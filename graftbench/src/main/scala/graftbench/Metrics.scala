package graftbench

/** Every metric the benchmark emits, with its unit. BENCHMARK.json
  * declares the same names and units (a test holds them equal). */
object Metrics {
  /** Reported by every workload from the untraced run. `op` is each
    * workload's main op kind and `op2` its second one (see README).
    * Times are process CPU seconds; the wall-clock figures are per-layer
    * (`wall.*`, `trace.untraced_op_p50_s`). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cpu_ms_per_krow" -> "ms",
    "heap_live_mb" -> "MB",
    "op_cpu_p50_s" -> "s",
    "op2_cpu_p50_s" -> "s",
    "space_amp" -> "ratio")

  private def engine(slot: String): Seq[(String, String)] = Seq(
    s"$slot.wall_s" -> "s", s"$slot.cpu_s" -> "s", s"$slot.gc_s" -> "s",
    s"$slot.run_s" -> "s", s"$slot.jobs" -> "count", s"$slot.tasks" -> "count",
    s"$slot.shuffle_mb" -> "MB", s"$slot.spill_mb" -> "MB",
    s"$slot.unattributed_s" -> "s", s"$slot.samples" -> "count")

  /** Reported by every workload from the traced run; a layer a workload
    * bypasses reads 0 there. Times and counts are per op of the kind
    * that calls the layer, unless the name says otherwise. */
  val perLayer: Seq[(String, String)] = engine("op") ++ engine("op2") ++ Seq(
    "op2.p90_s" -> "s",
    "trace.untraced_op_p50_s" -> "s", "trace.traced_op_p50_s" -> "s",
    "trace.overhead_pct" -> "%",
    "wall.setup_s" -> "s", "wall.rows_per_s" -> "rows/s", "wall.op2_p50_s" -> "s",
    "setup.session_s" -> "s", "setup.stage_s" -> "s", "setup.warmup_s" -> "s",
    "pipeline.analysis_ms" -> "ms", "pipeline.optimizer_ms" -> "ms",
    "pipeline.planning_ms" -> "ms", "connector.build_ms" -> "ms",
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB",
    "sources.input_rows" -> "count",
    "functions.xform_s" -> "s", "functions.jute_compile_ms" -> "ms",
    "functions.error_rows" -> "count",
    "sinks.write_s" -> "s", "sinks.output_mb" -> "MB", "sinks.files" -> "count",
    "txn.log_ms" -> "ms", "txn.prune_ms" -> "ms",
    "txn.files_considered" -> "count", "txn.files_kept" -> "count",
    "txn.scan_s" -> "s", "txn.merge_s" -> "s", "txn.delete_dv_s" -> "s",
    "txn.files_rewritten" -> "count", "txn.mb_rewritten" -> "MB",
    "txn.maint_s" -> "s", "txn.maint_mb_rewritten" -> "MB",
    "txn.versions" -> "count", "txn.live_files" -> "count",
    "dedup.pairs_s" -> "s", "dedup.pairs" -> "count", "dedup.cluster_s" -> "s",
    "dedup.cluster_jobs" -> "count", "dedup.keep_s" -> "s",
    "dedup.precision" -> "ratio", "dedup.recall" -> "ratio",
    "index.build_s" -> "s", "index.probe_s" -> "s",
    "index.candidates" -> "count", "index.files_read" -> "count",
    "plans.gram_keys_s" -> "s", "plans.minhash_sig_s" -> "s",
    "stream.batches" -> "count", "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_commit_ms" -> "ms",
    "stream.state_mb" -> "MB")

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
