package perfbench

/** Per-layer metrics of a traced run, from the recorded spans and their counter
  * deltas: each figure is the median over the traced iterations of one leg. A
  * layer the workload does not call reads 0.
  */
object Layers {
  type Metric = (String, Double, String)

  def metrics(tr: Tracer, tracedWalls: Seq[Double], plainWalls: Seq[Double], threads: Int,
      checked: Checked, host0: HostSnapshot, host1: HostSnapshot, probe: Double): Seq[Metric] = {
    val spans = tr.all
    val roots = spans.filter(s => s.name == "iteration" && s.threads == threads)

    /** Median, over the leg's traced iterations that call `name`, of its summed duration. */
    def ms(name: String, legThreads: Int = threads): Double =
      Main.median(spans.filter(s => s.name == name && s.threads == legThreads)
        .groupBy(_.iter).values.map(_.map(_.ms).sum).toSeq)

    /** Median, over the traced iterations that call `name`, of a counter summed over it. */
    def counter(key: String, name: String = "iteration"): Double =
      Main.median(spans.filter(s => s.name == name && s.threads == threads)
        .groupBy(_.iter).values.map(_.map(_.counters.getOrElse(key, 0.0)).sum).toSeq)

    def layer(key: String): Double = checked.layer.getOrElse(key, tr.notes.getOrElse(key, 0.0))
    def perSecond(amount: Double, millis: Double): Double = if (millis > 0) amount / (millis / 1e3) else 0.0

    val iterMs = ms("iteration")
    val gatesPlanMs = Seq("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms")
      .map(counter(_, "gates")).sum
    val gates = Gates.families.map(f => (s"gates.${f}_ms", ms(s"gates.$f"), "ms"))

    Seq(
      ("pipeline.build_ms", ms("pipeline.build"), "ms"),
      ("pipeline.lower_ms", ms("pipeline.lower"), "ms"),
      ("pipeline.features", layer("pipeline.features"), "count"),
      ("plan.analysis_ms", counter("plan.analysis_ms"), "ms"),
      ("plan.optimization_ms", counter("plan.optimization_ms"), "ms"),
      ("plan.planning_ms", counter("plan.planning_ms"), "ms"),
      ("plan.queries", counter("plan.queries"), "count"),
      ("codegen.compile_ms", counter("codegen.compile_ms"), "ms"),
      ("codegen.classes", counter("codegen.classes"), "count"),
      ("exec.task_ms", counter("exec.task_ms"), "ms"),
      ("exec.occupancy", if (iterMs > 0) counter("exec.task_ms") / (iterMs * threads) else 0.0, "ratio"),
      ("exec.tasks", counter("exec.tasks"), "count"),
      ("exec.stages", counter("exec.stages"), "count"),
      ("exec.shuffle_write_mb", counter("exec.shuffle_write_mb"), "MB"),
      ("exec.spill_mb", counter("exec.spill_mb"), "MB"),
      ("exec.gc_ms", counter("exec.gc_ms"), "ms"),
      ("exec.skew", counter("exec.skew"), "ratio"),
      ("iteration.self_ms", Main.median(roots.map(tr.selfMs)), "ms"),
      ("pit.features_ms", ms("pit.features"), "ms"),
      ("pit.asof_ms", ms("pit.asof"), "ms"),
      ("pit.features_ms_1t", ms("pit.features", 1), "ms"),
      ("pit.asof_ms_1t", ms("pit.asof", 1), "ms"),
      ("asof.shuffle_write_mb", counter("exec.shuffle_write_mb", "pit.asof"), "MB"),
      ("sink.write_ms", ms("sink.write"), "ms"),
      ("sink.mb", layer("sink.mb"), "MB"),
      ("sink.files", layer("sink.files"), "count"),
      ("select.corr_ms", ms("select.corr"), "ms"),
      ("select.ttest_ms", ms("select.ttest"), "ms"),
      ("select.values_per_s", perSecond(layer("select.values"), ms("select.corr")), "1/s"),
      ("text.analyze_ms", ms("text.analyze"), "ms"),
      ("text.mb_per_s", perSecond(layer("text.mb"), ms("text.analyze")), "MB/s"),
      ("dedup.lsh_ms", ms("dedup.lsh"), "ms"),
      ("dedup.pairs", layer("dedup.pairs"), "count"),
      ("dedup.lsh_yield", layer("dedup.lsh_yield"), "ratio"),
      ("dedup.clusters_ms", ms("dedup.clusters"), "ms"),
      ("dedup.keep_lines_ms", ms("dedup.keep_lines"), "ms"),
      ("gates.plan_ms", gatesPlanMs, "ms"),
      ("gates.exec_ms", math.max(0.0, ms("gates") - gatesPlanMs), "ms")) ++
    gates ++ Seq(
      ("trace.overhead_ms", (Main.median(tracedWalls) - Main.median(plainWalls)) * 1e3, "ms"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("host.probe_s", probe, "s"),
      ("host.steal_ticks", (host1.stealTicks - host0.stealTicks).toDouble, "count"),
      ("host.throttled_ms", (host1.throttledUs - host0.throttledUs) / 1e3, "ms"),
      ("host.nproc", Host.nproc.toDouble, "count"),
      ("host.mem_gb", Host.memGb, "GB"))
  }
}
