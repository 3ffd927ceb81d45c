package perfbench

/** Every metric the benchmark reports, with its unit. The names and
  * units here are the ones `BENCHMARK.json` declares (MetricsSpec keeps
  * the two in step). End-to-end metrics are reported by every run with
  * tracing off, per-layer metrics by every run with tracing on; a layer
  * a workload leaves idle reads 0. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pass_s" -> "s",
    "ops_per_s" -> "1/s",
    "lat_p50_ms" -> "ms",
    "lat_tail_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  val setupSteps: Seq[String] = graft.Bench.warmupSteps.map(_._1)

  val perLayer: Seq[(String, String)] = Seq(
    // sources.mqtt — timing connector + generator
    "mqtt.fetch_ms" -> "ms", "mqtt.fetch_calls" -> "count",
    "mqtt.msgs_fetched" -> "count", "mqtt.latest_seq_ms" -> "ms",
    "mqtt.truncate_ms" -> "ms", "mqtt.backlog_max_msgs" -> "count",
    "gen.publish_ms" -> "ms", "gen.late_ms_p99" -> "ms",
    // streaming — query progress
    "stream.batches" -> "count", "stream.rows_per_batch_p50" -> "count",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.add_batch_self_ms" -> "ms",
    // ingest — Ingest.parse on a static frame
    "ingest.parse_rows_s" -> "rows/s", "ingest.valid_rows" -> "count",
    "ingest.rejected_invalid_topic" -> "count",
    "ingest.rejected_missing_value" -> "count",
    "ingest.rejected_unsupported_value_type" -> "count",
    // sinks — timing catalog, reader, warehouse files
    "sinks.create_table_calls" -> "count",
    "sinks.batch_committed_calls" -> "count",
    "sinks.append_routed_calls" -> "count",
    "sinks.append_fallback_calls" -> "count",
    "sinks.create_table_ms" -> "ms", "sinks.begin_batch_ms" -> "ms",
    "sinks.batch_committed_ms" -> "ms", "sinks.append_routed_ms" -> "ms",
    "sinks.commit_batch_ms" -> "ms", "sinks.read_ms" -> "ms",
    "sinks.reads" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_per_row" -> "B/row", "sinks.manifest_versions" -> "count",
    // Spark engine — scheduler listener
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.sched_gap_s" -> "s",
    "spark.submit_to_first_task_ms" -> "ms", "spark.task_busy_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.spill_mb" -> "MB",
    // queries / plans / codegen
    "queries.construct_s" -> "s", "plan.analysis_s" -> "s",
    "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "plan.exchanges" -> "count", "plan.broadcast_build_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count") ++
    // setup — Bench.warmupSteps artifacts
    setupSteps.map(s => s"setup.${s}_s" -> "s") ++ Seq(
    "spark.cached_mb_after_setup" -> "MB",
    "trace_overhead_pct" -> "%")
}
