package graftbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0. Times are means
  * per unit of work (a query run or a micro-batch). The unit's jobs
  * (`job_wall_ms`), its Catalyst phases and the driver time outside both
  * (`driver_other_ms`) make up its wall; `wall_accounted_frac` is the share
  * the first two cover. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    // sources + SparkEntry construction
    "build_ms" -> "ms", "build_jobs" -> "count",
    // Catalyst
    "catalyst_ms" -> "ms",
    // driver scheduling
    "unit_wall_ms" -> "ms", "driver_gap_ms" -> "ms", "driver_other_ms" -> "ms",
    "jobs_per_unit" -> "count", "stages_per_unit" -> "count", "tasks_per_unit" -> "count",
    // execution
    "job_wall_ms" -> "ms", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "task_gc_ms" -> "ms",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "core_busy_frac" -> "fraction",
    // ops.Rounds loops
    "job_wall_per_job_ms" -> "ms", "leaked_rdds" -> "count",
    // streaming (RidePipeline + state store)
    "batches" -> "count", "batch_ms_p50" -> "ms", "latest_offset_ms" -> "ms",
    "get_batch_ms" -> "ms", "trigger_planning_ms" -> "ms", "add_batch_ms" -> "ms",
    "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms", "state_rows" -> "count",
    "state_commit_ms" -> "ms", "state_memory_bytes" -> "bytes",
    "rows_dropped_by_watermark" -> "count",
    // sink (JdbcUpsertSink)
    "sink_merge_ms_p50" -> "ms", "sink_merge_ms_max" -> "ms", "sink_rows" -> "count",
    // generator and open-loop tail
    "gen_late_ms_max" -> "ms", "backlog_files_max" -> "count", "latency_p95_ms" -> "ms",
    "serial_events_per_s" -> "1/s",
    // the trace itself
    "wall_accounted_frac" -> "fraction", "trace_overhead_frac" -> "fraction")

  def emit(r: Result, values: collection.Map[String, Double]): Unit = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    names.foreach { case (n, u) => r.layer(n, values.getOrElse(n, 0.0), u) }
  }

  /** Mean of each key over the units, for keys every unit reports. */
  def means(units: Seq[collection.Map[String, Double]]): mutable.Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    if (units.nonEmpty) units.head.keys.foreach(k => out(k) = Stats.mean(units.map(_(k))))
    out
  }

  /** Task-side counters of one unit, as per-layer keys. */
  def taskSide(c: Counters, jobIntervals: Seq[(Double, Double)]): Map[String, Double] = Map(
    "jobs_per_unit" -> c.jobs.toDouble,
    "stages_per_unit" -> c.stages.toDouble,
    "tasks_per_unit" -> c.tasks.toDouble,
    "task_run_ms" -> c.runMs,
    "task_cpu_ms" -> c.cpuMs,
    "task_gc_ms" -> c.gcMs,
    "shuffle_read_bytes" -> c.shuffleRead.toDouble,
    "shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "spill_bytes" -> c.spill.toDouble,
    "job_wall_ms" -> Stats.unionLength(jobIntervals),
    "job_ms_sum" -> jobIntervals.map { case (a, b) => b - a }.sum)

  /** Ratios that only make sense over the whole traced phase. */
  def ratios(m: mutable.Map[String, Double], cores: Int): Unit = {
    val jobs = m.getOrElse("jobs_per_unit", 0.0)
    m("job_wall_per_job_ms") = if (jobs > 0) m.getOrElse("job_ms_sum", 0.0) / jobs else 0.0
    val wall = m.getOrElse("unit_wall_ms", 0.0)
    m("core_busy_frac") = if (wall > 0) m.getOrElse("task_run_ms", 0.0) / (wall * cores) else 0.0
    m.remove("job_ms_sum")
  }
}
