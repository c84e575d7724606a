package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in this JVM.
  *
  * Set-up (session, seeded inputs, one untimed warm-up iteration) is done
  * `Setups` times and its median reported, the first one counted from JVM start.
  * Untimed iterations continue for a third of the measuring time; the timed
  * iterations then run at N = min(nproc, 4) threads for two thirds of
  * the measuring time, and after the output checks a fresh 1-thread session runs
  * the same iterations on the same inputs for the last third, after one untimed
  * iteration (the first in a fresh session is ~1 s slower): scaling_eff is
  * (1-thread wall) / (N x N-thread wall). peak_heap_mb is the larger heap in use
  * right after a full collection forced at the end of each leg: collections at
  * their natural times made it vary threefold between runs, and a forced one
  * between timed iterations slows the next iteration.
  *
  * With --trace 1 iterations alternate untraced and traced; the traced ones record
  * a span per layer call with listener counters, and the difference of the two
  * medians is the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *          --tmp DIR --result FILE --artifacts DIR
  */
object Main {
  val Setups = 2
  val MinIterations = 3
  val MaxIterations = 40

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after a full collection, forced here. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** A JSON number with all its digits; non-finite values become -1. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(threads: Int, partitions: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // at the default 100 entries the generated-class cache sat at the edge of
      // clickstream_select's working set: some runs recompiled ~23 classes every
      // iteration and others none, a bimodal 0.5-1 s per iteration
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** Progress on stderr, seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload")).getOrElse(sys.error(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val tmp = opts("tmp")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = Host.snapshot()
    val threads = math.min(Host.nproc, 4)
    val partitions = 4 * threads
    val tracer = new Tracer
    var attempted = 0
    var failed = 0
    val heapMb = ArrayBuffer.empty[Double]
    var scratchSeq = 0
    def scratch(): String = { scratchSeq += 1; s"$tmp/out$scratchSeq" }
    var lastDir = ""

    /** One iteration: its wall seconds, or None if it threw. */
    def iteration(spark: SparkSession, in: Inputs, w: Workload = wl): Option[Double] = {
      attempted += 1
      if (lastDir.nonEmpty) deleteTree(lastDir)
      val dir = scratch()
      lastDir = dir
      val t0 = System.nanoTime()
      val ok = try { tracer.span(if (w == wl) "iteration" else "phase")(w.iterate(spark, in, tracer, dir)); true }
      catch { case e: Exception => System.err.println(s"iteration failed: $e"); failed += 1; false }
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"iteration $scratchSeq: $dt%.3f s")
      tracer.detach()
      if (ok) Some(dt) else None
    }

    /** Iterations until `budget` seconds have passed and at least `min` ran. With
      * `traceEvery` 2 they go untraced, traced, traced, untraced, and so on, so that a
      * steady drift in iteration time cancels out of the tracing overhead.
      */
    def timedLoop(spark: SparkSession, legThreads: Int, in: Inputs, budget: Double, min: Int,
        traceEvery: Int): (Seq[Double], Seq[Double]) = {
      val plain, traced = ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      var i = 0
      while (i < MaxIterations && (i < min || (System.nanoTime() - start) / 1e9 < budget)) {
        val withTrace = traceEvery == 1 || traceEvery == 2 && (i % 4 == 1 || i % 4 == 2)
        if (withTrace) tracer.attach(spark)
        tracer.iteration = i
        tracer.threads = legThreads
        iteration(spark, in).foreach(dt => (if (withTrace) traced else plain) += dt)
        i += 1
      }
      (plain.toSeq, traced.toSeq)
    }

    // ---- set-up, several times; the first counts from JVM start
    var spark: SparkSession = null
    var inputs: Inputs = null
    val setups = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(threads, partitions, tmp)
      if (inputs != null) deleteTree(inputs.dir)
      inputs = wl.generate(spark, seed, s"$tmp/in$k")
      log(s"set-up $k: inputs written")
      iteration(spark, inputs)
      if (k == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else (System.nanoTime() - t0) / 1e9
    }

    // ---- untimed iterations for a third of the measuring time, so that the JIT has
    // settled: after the set-ups alone the first timed iterations of pit_pages
    // still ran 20-40% slower than the later ones
    val settleStart = System.nanoTime()
    do iteration(spark, inputs) while ((System.nanoTime() - settleStart) / 1e9 < seconds / 3)

    // ---- timed iterations at N threads
    val (walls, tracedWalls) =
      timedLoop(spark, threads, inputs, seconds * 2 / 3, if (trace) 4 else MinIterations,
        if (trace) 2 else 0)
    val host1 = Host.snapshot()
    heapMb += liveHeapMb()

    // ---- output checks, untimed
    log("checks")
    def runChecks(w: Workload, in: Inputs): Checked =
      try w.check(spark, in, lastDir)
      catch { case e: Exception =>
        System.err.println(s"checks failed to run: $e")
        Checked(0L, 0L, Seq(s"checks threw $e"), 1, Map.empty)
      }
    val checked = runChecks(wl, inputs)
    val pinned = Pinned.lookup(opts.getOrElse("pinned", ""), wl.name, seed)
    val checksumOk = pinned.forall(_ == checked.checksum)
    val failures = checked.failures ++ (if (checksumOk) Nil else Seq(
      s"checksum ${checked.checksum} differs from the pinned ${pinned.get}"))
    attempted += checked.attempted + (if (pinned.isDefined) 1 else 0)
    failed += failures.size

    // ---- traced runs only: one traced iteration of each trace phase, then its checks
    val phaseFailures = ArrayBuffer.empty[String]
    if (trace) wl.tracePhases.zipWithIndex.foreach { case (ph, k) =>
      log(s"trace phase ${ph.name}")
      val in = ph.generate(spark, seed, s"$tmp/phase$k")
      iteration(spark, in, ph)
      tracer.attach(spark)
      tracer.iteration = -1 - k
      iteration(spark, in, ph)
      val phChecked = runChecks(ph, in)
      attempted += phChecked.attempted
      failed += phChecked.failures.size
      phaseFailures ++= phChecked.failures.map(f => s"${ph.name} $f")
      deleteTree(in.dir)
    }

    // ---- the same iterations in a fresh 1-thread session
    log("1-thread leg")
    val walls1 = if (!trace || wl == PitPages) {
      spark.stop()
      spark = session(1, partitions, tmp)
      iteration(spark, inputs)
      timedLoop(spark, 1, inputs, seconds / 3, 1, if (trace) 1 else 0) match {
        case (p, t) => p ++ t
      }
    } else Nil
    if (walls1.nonEmpty) heapMb += liveHeapMb()
    val probe = Host.probeSeconds()
    spark.stop()

    val wall = median(walls)
    val wall1 = median(walls1)
    val endToEnd = Seq(
      ("setup_s", median(setups), "s"),
      ("wall_s", wall, "s"),
      ("rows_per_s", checked.outputRows / wall, "rows/s"),
      ("input_mb_per_s", inputs.mb / wall, "MB/s"),
      ("scaling_eff", wall1 / (threads * wall), "ratio"),
      ("peak_heap_mb", heapMb.max, "MB"),
      ("ok_ops_frac", (attempted - failed).toDouble / attempted, "frac"))
    val metrics = if (trace) Layers.metrics(tracer, tracedWalls, walls, threads, checked,
        host0, host1, probe)
      else endToEnd
    val correct = failures.isEmpty && phaseFailures.isEmpty && failed == 0

    val metricsJson = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metricsJson.mkString(",")}}}"""
    Files.writeString(Paths.get(opts("result")), result)

    // the full record, host envelope and samples included, for attributing a run
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val artifacts = opts("artifacts")
    Files.createDirectories(Paths.get(artifacts))
    val base = s"$artifacts/${wl.name}-seed$seed-trace${if (trace) 1 else 0}"
    val record = s"""{"workload":${str(wl.name)},"seed":$seed,"seconds":${num(seconds)},""" +
      s""""threads":$threads,"partitions":$partitions,""" +
      s""""host":{"nproc":${Host.nproc},"mem_gb":${num(Host.memGb)},"probe_s":${num(probe)},""" +
      s""""steal_ticks":${host1.stealTicks - host0.stealTicks},""" +
      s""""throttled_ms":${num((host1.throttledUs - host0.throttledUs) / 1e3)}},""" +
      s""""inputs":{"rows":${inputs.rows},"mb":${num(inputs.mb)},""" +
      inputs.dims.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",") + "}," +
      s""""setup_s":${arr(setups)},"wall_s":${arr(walls)},"traced_wall_s":${arr(tracedWalls)},""" +
      s""""wall_s_1thread":${arr(walls1)},"heap_mb":${arr(heapMb.toSeq)},""" +
      s""""output_rows":${checked.outputRows},"checksum":${checked.checksum},""" +
      s""""elapsed_s":${num((System.currentTimeMillis() - jvmStartMs) / 1e3)},""" +
      s""""pinned_checksum":${pinned.map(_.toString).getOrElse("null")},""" +
      s""""failures":${(failures ++ phaseFailures).map(str).mkString("[", ",", "]")},"result":$result}"""
    Files.writeString(Paths.get(s"$base.json"), record)
    if (trace) Files.writeString(Paths.get(s"$base.spans.json"), tracer.json)

    println(f"${wl.name} seed $seed: ${walls.size} iterations at $threads threads, " +
      f"median $wall%.3f s; ${walls1.size} at 1 thread, median $wall1%.3f s; " +
      f"${setups.size} set-ups; checks ${failures.size} failed of ${checked.attempted}; record $base.json")
    (failures ++ phaseFailures).foreach(f => println(s"CHECK FAILED: $f"))
  }
}

/** Pinned output checksums per workload and seed, from a JSON file of the form
  * {"workload": {"seed": checksum}}. A seed without a pin is checked by the
  * workload's own checks alone.
  */
object Pinned {
  def lookup(path: String, workload: String, seed: Long): Option[Long] = {
    if (path.isEmpty || !Files.exists(Paths.get(path))) return None
    val text = Files.readString(Paths.get(path))
    val block = ("\"" + java.util.regex.Pattern.quote(workload) + "\"\\s*:\\s*\\{([^}]*)\\}").r
    block.findFirstMatchIn(text).flatMap { m =>
      ("\"" + seed + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(m.group(1)).map(_.group(1).toLong)
    }
  }
}
