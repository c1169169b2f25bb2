package perfbench

/** Per-layer metrics of a traced run, each per warm pass. Layers a
  * workload does not run report 0.
  */
object Layers {

  /** Metric name -> unit, in the order they are documented. */
  val Units: Seq[(String, String)] = Seq(
    "sessions.build_s" -> "s",
    "io.cams.sniff_s" -> "s", "io.cams.sniff_jobs" -> "count", "io.cams.parse_s" -> "s",
    "io.cams.rows_parsed" -> "count", "io.cams.keep_ratio" -> "share",
    "ops.resample_s" -> "s", "ops.resample.buckets_out" -> "count",
    "ops.resample.shuffle_write_mb" -> "MB",
    "io.sinks.csv_s" -> "s",
    "ops.qc_s" -> "s", "ops.qc.keep_ratio" -> "share",
    "pipelines.compare_s" -> "s", "pipelines.compare.join_rows" -> "count",
    "pipelines.compare.shuffle_mb" -> "MB",
    "pipelines.compile_s" -> "s", "pipelines.compile.shuffle_mb" -> "MB",
    "pipelines.fused_gap_s" -> "s",
    "io.sinks.cube_s" -> "s", "io.sinks.cube_mb" -> "MB",
    "io.sinks.netcdf_s" -> "s", "io.sinks.netcdf_rows_per_s" -> "1/s",
    "io.sinks.netcdf_share" -> "share",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimizer_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "plans.graft_rules_ms" -> "ms", "plans.graft_rules_effective_ratio" -> "share",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_cpu_s" -> "s", "sched.gc_s" -> "s", "sched.shuffle_read_mb" -> "MB",
    "sched.shuffle_write_mb" -> "MB", "sched.spill_mb" -> "MB", "sched.overhead_s" -> "s",
    "mix.core_s" -> "s", "mix.ext_s" -> "s", "mix.stat_s" -> "s", "mix.eval_s" -> "s",
    "mix.stream_s" -> "s",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "trace.overhead_s" -> "s")

  /** Layer steps whose times add up to a fused pass. */
  private val Steps = Seq("io.cams.sniff_s", "io.cams.parse_s", "ops.resample_s", "io.sinks.csv_s",
    "ops.qc_s", "pipelines.compare_s", "pipelines.compile_s", "io.sinks.cube_s", "io.sinks.netcdf_s")

  def apply(tr: Tracer, passes: Seq[Pass],
      layered: Map[String, Double], cores: Int, sessionBuild: Double)
      : Map[String, (Double, String)] = {
    val tracedWall = Main.median(passes.filter(_.traced).map(_.seconds))
    val plainWall = Main.median(passes.filterNot(_.traced).map(_.seconds))
    val passSpans = tr.spans.filter(_.name == "pass")
    val n = passSpans.length.toDouble
    val sched = tr.schedUnder(passSpans)
    val plan = tr.planningWithin(passSpans)
    val batches = tr.batchesWithin(passSpans)
    val graftRuns = plan.map(_.graftRuns).sum
    val groups = passes.filter(_.traced).flatMap(_.ops).groupBy(_.group)
      .map { case (g, ops) => g -> ops.map(_.seconds).sum / n }
    val computed = Map(
      "sessions.build_s" -> sessionBuild,
      "pipelines.fused_gap_s" ->
        (if (layered.isEmpty) 0.0 else tracedWall - Steps.flatMap(layered.get).sum),
      "io.sinks.netcdf_share" -> layered.get("io.sinks.netcdf_s").map(_ / tracedWall).getOrElse(0.0),
      "catalyst.analysis_ms" -> plan.map(_.analysisMs).sum / n,
      "catalyst.optimizer_ms" -> plan.map(_.optimizerMs).sum / n,
      "catalyst.planning_ms" -> plan.map(_.planningMs).sum / n,
      "plans.graft_rules_ms" -> plan.map(_.graftRuleNs).sum / 1e6 / n,
      "plans.graft_rules_effective_ratio" ->
        (if (graftRuns == 0) 0.0 else plan.map(_.graftEffective).sum.toDouble / graftRuns),
      "sched.jobs" -> sched.jobs / n, "sched.stages" -> sched.stages / n,
      "sched.tasks" -> sched.tasks / n, "sched.task_cpu_s" -> sched.cpuNs / 1e9 / n,
      "sched.gc_s" -> sched.gcMs / 1e3 / n,
      "sched.shuffle_read_mb" -> sched.shuffleRead / 1e6 / n,
      "sched.shuffle_write_mb" -> sched.shuffleWrite / 1e6 / n,
      "sched.spill_mb" -> sched.spill / 1e6 / n,
      "sched.overhead_s" -> (tracedWall - sched.runMs / 1e3 / n / cores),
      "mix.core_s" -> groups.getOrElse("core", 0.0), "mix.ext_s" -> groups.getOrElse("ext", 0.0),
      "mix.stat_s" -> groups.getOrElse("stat", 0.0), "mix.eval_s" -> groups.getOrElse("eval", 0.0),
      "mix.stream_s" -> groups.getOrElse("stream", 0.0),
      "streaming.batches" -> batches.length / n,
      "streaming.state_rows" ->
        batches.groupBy(_.query).values.map(_.map(_.stateRows).max).sum / n,
      "trace.overhead_s" -> (tracedWall - plainWall))
    Units.map { case (k, u) =>
      k -> (computed.get(k).orElse(layered.get(k)).getOrElse(0.0), u)
    }.toMap
  }
}
