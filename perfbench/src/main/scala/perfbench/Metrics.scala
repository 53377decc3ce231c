package perfbench

/** Every metric the benchmark reports, with its unit and direction.
  * BENCHMARK.json lists the same names and units (MetricsSpec checks it).
  */
object Metrics {

  case class Metric(name: String, unit: String, better: String)

  /** Reported by untraced runs, for every workload. */
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("rows_per_s", "rows/s", "higher"),
    Metric("op_s_p50", "s", "lower"),
    Metric("heap_retained_mb", "MB", "lower"))

  /** Reported by traced runs, for every workload; a layer the workload
    * bypasses reads 0. Per-op figures are means over the traced ops.
    */
  val perLayer: Seq[Metric] = Seq(
    Metric("lineage.read_s", "s", "lower"),
    Metric("lineage.commit_s", "s", "lower"),
    Metric("lineage.files", "count", "lower"),
    Metric("discover.rows_scanned", "rows", "lower"),
    Metric("discover.rows_delta", "rows", "higher"),
    Metric("discover.delta_share", "ratio", "higher"),
    Metric("discover.files_listed", "count", "lower"),
    Metric("driver.gap_s", "s", "lower"),
    Metric("parse.map_task_s", "s", "lower"),
    Metric("prefix.task_s", "s", "lower"),
    Metric("prefix.shuffle_bytes", "bytes", "lower"),
    Metric("prefix.task_skew", "ratio", "lower"),
    Metric("sinks.write_task_s", "s", "lower"),
    Metric("sinks.shuffle_bytes", "bytes", "lower"),
    Metric("sinks.files", "count", "lower"),
    Metric("sinks.bytes", "bytes", "lower"),
    Metric("aggregate.task_s", "s", "lower"),
    Metric("fingerprint.task_s", "s", "lower"),
    Metric("fingerprint.files", "count", "lower"),
    Metric("fingerprint.dup_rows", "rows", "higher"),
    Metric("audit.task_s", "s", "lower"),
    Metric("audit.cycles", "count", "lower"),
    Metric("minhash.self_s", "s", "lower"),
    Metric("lsh.bands_self_s", "s", "lower"),
    Metric("lsh.pairs_self_s", "s", "lower"),
    Metric("lsh.incremental_self_s", "s", "lower"),
    Metric("resolve.self_s", "s", "lower"),
    Metric("resolve.iterations", "count", "lower"),
    Metric("lsh.candidate_pairs", "count", "lower"),
    Metric("lsh.oversized_buckets", "count", "lower"),
    Metric("store.bands_bytes", "bytes", "lower"),
    Metric("store.bands_files", "count", "lower"),
    Metric("exec.busy_share", "ratio", "higher"),
    Metric("shuffle.bytes", "bytes", "lower"),
    Metric("spill.bytes", "bytes", "lower"),
    Metric("gc_s", "s", "lower"),
    Metric("plan.exchanges", "count", "lower"),
    Metric("persisted_rdds_end", "count", "lower"),
    Metric("poll_s_p50", "s", "lower"),
    Metric("op_s_tail", "s", "lower"),
    Metric("rows_per_s_1core", "rows/s", "higher"),
    Metric("scaling_efficiency", "ratio", "higher"),
    Metric("trace.overhead_share", "ratio", "lower"),
    Metric("planted.share", "ratio", "higher"),
    Metric("calibration.cpu_s", "s", "lower")) ++
    Operators.names.map(n => Metric(s"query.${n}_s", "s", "lower")) :+
    Metric("query.suite_s", "s", "lower")
}
