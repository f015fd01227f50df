package perfbench

/** The metric catalogue: BENCHMARK.json lists exactly these names. */
object Layers {

  final case class Metric(name: String, unit: String, better: String)

  private def lower(name: String, unit: String) = Metric(name, unit, "lower")
  private def higher(name: String, unit: String) = Metric(name, unit, "higher")

  /** End-to-end metrics, measured with tracing off. */
  val endToEnd: Seq[Metric] = Seq(
    lower("setup_s", "s"),
    higher("rows_per_s", "rows/s"),
    lower("write_ms_p50", "ms"),
    lower("write_amp", "ratio"),
    lower("peak_rss_mb", "MB"))

  /** Per-layer metrics of a traced run. Every workload reports all of
    * them; a layer a workload never reaches reads 0. */
  val all: Seq[Metric] = Seq(
    lower("pipelines.importer.ms", "ms"),
    lower("pipelines.importer.self_ms", "ms"),
    lower("pipelines.importer.jobs", "count"),
    lower("pipelines.importer.scan_amp", "ratio"),
    lower("pipelines.attributes.ms", "ms"),
    lower("pipelines.attributes.self_ms", "ms"),
    lower("pipelines.attributes.shuffle_write_bytes", "B"),
    lower("pipelines.enrichment.ms", "ms"),
    lower("pipelines.enrichment.self_ms", "ms"),
    lower("operators.text_analysis.self_ms", "ms"),
    lower("operators.lsh_pairs.self_ms", "ms"),
    lower("operators.lsh_pairs.shuffle_write_bytes", "B"),
    higher("operators.lsh_pairs.useful_frac", "ratio"),
    lower("operators.clusters.self_ms", "ms"),
    lower("operators.clusters.jobs", "count"),
    lower("operators.select_pack.self_ms", "ms"),
    lower("operators.spill_bytes", "B"),
    lower("sources.commit.driver_ms", "ms"),
    lower("sources.commit.seed_ms", "ms"),
    lower("sources.commit.jobs", "count"),
    lower("sources.commit.bytes_written", "B"),
    lower("sources.merge.self_ms", "ms"),
    lower("sources.merge.jobs", "count"),
    lower("sources.merge.files_rewritten", "count"),
    lower("sources.merge.dv_positions", "count"),
    lower("sources.read.self_ms", "ms"),
    lower("sources.read.plan_ms", "ms"),
    lower("sources.read.files_scanned_frac", "ratio"),
    lower("sources.compact.self_ms", "ms"),
    lower("sources.compact.bytes_rewritten", "B"),
    lower("sources.vacuum.self_ms", "ms"),
    lower("sources.manifest_bytes", "B"),
    lower("streaming.trigger_ms", "ms"),
    lower("streaming.overhead_ms", "ms"),
    lower("streaming.wal_commit_ms", "ms"),
    lower("streaming.query_planning_ms", "ms"),
    lower("streaming.get_batch_ms", "ms"),
    lower("driver.plan_ms", "ms"),
    lower("driver.codegen_compiles", "count"),
    lower("driver.codegen_ms", "ms"),
    lower("scheduling.jobs", "count"),
    lower("scheduling.tasks", "count"),
    lower("scheduling.gap_ms", "ms"),
    lower("execution.shuffle_write_bytes", "B"),
    lower("execution.spill_bytes", "B"),
    lower("execution.task_cpu_ms", "ms"),
    lower("execution.gc_ms", "ms"),
    lower("storage.pinned_bytes_growth", "B"),
    lower("trace.unattributed_ms", "ms"),
    higher("trace.rows_per_s", "rows/s"),
    lower("trace.overhead_pct", "%"))

  /** The Spark-runtime layers, the same on every workload. */
  def runtime(r: Trace#Report): Map[String, Double] = Map(
    "driver.plan_ms" -> r.planMsPerIter,
    "driver.codegen_compiles" -> r.codegenCompiles,
    "driver.codegen_ms" -> r.codegenMs,
    "scheduling.jobs" -> r.totalPerIter(_.jobs.get),
    "scheduling.tasks" -> r.totalPerIter(_.tasks.get),
    "scheduling.gap_ms" -> r.gapMsPerIter,
    "execution.shuffle_write_bytes" -> r.totalPerIter(_.shuffleWrite.get),
    "execution.spill_bytes" -> r.totalPerIter(_.spill.get),
    "execution.task_cpu_ms" -> r.totalPerIter(_.cpuNs.get) / 1e6,
    "execution.gc_ms" -> r.totalPerIter(_.gcMs.get),
    "trace.unattributed_ms" -> r.unattributedMsPerIter)
}
