package perfbench

import scala.collection.immutable.ListMap

/** What one workload measured. `endToEnd` and `perLayer` hold values in
  * the units `Metrics` declares; a layer a workload does not run is
  * reported as 0. */
final case class Outcome(attempted: Long, failed: Long, flags: Seq[String],
                         mismatches: Seq[String],
                         endToEnd: Map[String, Double],
                         perLayer: Map[String, Double],
                         tracingOverhead: Option[Double],
                         detail: ListMap[String, Any])

/** Every metric the benchmark prints, with its unit. */
object Metrics {
  val endToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "op_geomean_ms" -> "ms",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "retained_heap_mb" -> "MiB")

  val perLayer: ListMap[String, String] = ListMap(
    "operators.build_s" -> "s",
    "operators.build_jobs" -> "count",
    "operators.build_tasks" -> "count",
    "operators.build_task_s" -> "s",
    "operators.build_block_bytes" -> "bytes",
    "plans.plan_s" -> "s",
    "exec.run_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_s" -> "s",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.core_busy_frac" -> "fraction",
    "exec.codegen_compiles" -> "count",
    "exec.codegen_compile_s" -> "s",
    "exec.scan_bytes" -> "bytes",
    "exec.scan_rows" -> "count",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "streaming.triggers" -> "count",
    "streaming.trigger_ms" -> "ms/trigger",
    "streaming.latest_offset_ms" -> "ms/trigger",
    "streaming.get_batch_ms" -> "ms/trigger",
    "streaming.query_planning_ms" -> "ms/trigger",
    "streaming.add_batch_ms" -> "ms/trigger",
    "streaming.wal_commit_ms" -> "ms/trigger",
    "streaming.commit_offsets_ms" -> "ms/trigger",
    "streaming.input_rows_per_s" -> "1/s",
    "streaming.processed_rows_per_s" -> "1/s",
    "streaming.catchup_rows_per_s" -> "1/s",
    "state.rows_total" -> "count",
    "state.memory_bytes" -> "bytes",
    "state.commit_ms" -> "ms/trigger",
    "state.rows_dropped_by_watermark" -> "count",
    "sinks.parquet_ms" -> "ms/trigger",
    "sinks.kafka_shaped_ms" -> "ms/trigger",
    "sinks.rows" -> "count",
    "source.gen_late_ms" -> "ms",
    "source.backlog_rows" -> "count")

  /** Per-layer values of the Spark work of one phase. */
  def exec(w: Work, wallS: Double, cores: Int, meanCompileMs: Double): Map[String, Double] = Map(
    "exec.run_s" -> wallS,
    "exec.jobs" -> w.jobs.toDouble,
    "exec.stages" -> w.stages.toDouble,
    "exec.tasks" -> w.tasks.toDouble,
    "exec.task_s" -> w.taskMs / 1e3,
    "exec.cpu_s" -> w.cpuNs / 1e9,
    "exec.gc_s" -> w.gcMs / 1e3,
    "exec.core_busy_frac" -> (if (wallS > 0) w.taskMs / 1e3 / (wallS * cores) else 0.0),
    "exec.codegen_compiles" -> w.compiles.toDouble,
    "exec.codegen_compile_s" -> w.compiles * meanCompileMs / 1e3,
    "exec.scan_bytes" -> w.scanBytes.toDouble,
    "exec.scan_rows" -> w.scanRows.toDouble,
    "exec.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
    "exec.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
    "exec.spill_bytes" -> w.spillBytes.toDouble)

  /** Median of each key over several samples (keys absent count as 0). */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(samples.map(_.getOrElse(k, 0.0)))
    }.toMap
}
