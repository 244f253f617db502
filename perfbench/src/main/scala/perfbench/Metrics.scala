package perfbench

/** Names and units of every metric the benchmark prints; `BENCHMARK.json`
  * declares the same lists. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "docs_per_s" -> "1/s",
    "step_s_p50" -> "s",
    "peak_rss_mb" -> "MB")

  private val dailyStages = Seq("exact", "lines", "neardup_batch", "neardup_history", "survivors", "appends")

  val perLayer: Seq[(String, String)] = Seq(
    "core.detector_docs_per_s_1t" -> "1/s",
    "core.detect_ms_p50" -> "ms", "core.detect_ms_p99" -> "ms", "core.spans" -> "count",
    "core.long_token_docs" -> "count", "core.long_token_time_share" -> "ratio",
    "eval.score_s" -> "s", "eval.splits_s" -> "s",
    "functions.extract_s" -> "s", "functions.mojibake_s" -> "s",
    "functions.langid_s" -> "s", "functions.quality_s" -> "s",
    "pipeline.pii_s" -> "s", "pipeline.rows_in" -> "count", "pipeline.rows_kept" -> "count",
    "pipeline.pii_rows" -> "count", "pipeline.pii_useful_ratio" -> "ratio") ++
    dailyStages.map(s => s"pipeline.${s}_s" -> "s") ++
    dailyStages.map(s => s"pipeline.$s.jobs" -> "count") ++ Seq(
    "operators.lsh_candidates" -> "count", "operators.lsh_verified" -> "count",
    "operators.lsh_useful_ratio" -> "ratio",
    "operators.shuffle_write_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
    "sources.state_bytes" -> "bytes", "sources.state_files" -> "count",
    "sources.lake_files" -> "count", "sources.lake_bytes" -> "bytes", "sources.write_s" -> "s",
    "streaming.microbatches" -> "count", "streaming.microbatch_s_p50" -> "s",
    "streaming.microbatch_s_max" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.overhead_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
  val dailyStageNames: Seq[String] = dailyStages
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number. */
  def num(d: Double): String = d.toString
}
