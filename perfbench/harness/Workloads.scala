package perfbench

/** The benchmark's workloads: which SparkEntry pipelines run, whether
  * results go to the noop sink or are written as parquet, and how many
  * timed passes a run makes. The reason each workload is in the set is in
  * perfbench/README.md.
  *
  * Pass times keep falling for many passes as the JIT compiles more of
  * Spark, so every run of a workload times the same number of passes:
  * a run that timed one pass more would read faster for that alone. The
  * counts are multiples of four, so traced runs balance their traced and
  * untraced passes, and as large as the benchmark's run-time budget
  * allows.
  */
final case class Workload(name: String, pipelines: Seq[String], parquetSink: Boolean, passes: Int)

object Workloads {
  val beamCore: Seq[String] = Seq(
    "q1_agg", "map_project", "filter_where", "flat_map_tokens",
    "sum_per_key", "distinct_count_per_key", "top_k_per_key", "latest_per_key",
    "join_inner", "join_broadcast", "cogroup_counts",
    "window_tumbling", "window_session", "window_sliding", "analytic_running",
    "text_quality", "text_bpe_tokens", "text_normalize_nfc", "stats_profile",
    "events_sessionize")

  val curationSink: Seq[String] = Seq(
    "pipeline_training_set", "pipeline_release", "pipeline_curated",
    "pipeline_dsir_select", "curation_lm_gate", "pipeline_html_curated",
    "text_keywords", "text_lm_perplexity", "multimodal_cross_dedup")

  val all: Seq[Workload] = Seq(
    Workload("beam_core", beamCore, parquetSink = false, passes = 8),
    Workload("curation_sink", curationSink, parquetSink = true, passes = 4))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
