package perfbench

/** The metric names and units the benchmark reports; `BENCHMARK.json`
  * declares the same lists. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "op_p50_s" -> "s", "op_mean_s" -> "s")

  /** Layers with spans of their own; each gets the Spark counters. */
  val layers: Seq[String] =
    Seq("runner", "seed", "sinks", "catalog", "models", "curation", "ann")

  val perLayer: Seq[(String, String)] = Seq(
    "runner.build_s" -> "s", "runner.fullrefresh_s" -> "s",
    "runner.model_max_s" -> "s", "runner.rows_written" -> "count",
    "runner.partition_dirs" -> "count", "runner.watermark_probe_s" -> "s",
    "runner.files_written" -> "count", "runner.output_bytes" -> "bytes",
    "runner.repair_s" -> "s", "runner.dirs_dropped" -> "count",
    "pipeline.warehouse_bytes" -> "bytes",
    "sinks.repair_s" -> "s", "sinks.replicate_s" -> "s",
    "sinks.rows_served" -> "count", "seed.dims_s" -> "s",
    "catalog.register_views_s" -> "s",
    "models.construct_s" -> "s", "models.memo_builds" -> "count",
    "curation.run_s" -> "s", "ann.build_s" -> "s", "ann.search_s" -> "s",
    "corpus.warehouse_bytes" -> "bytes",
    "catalyst.analysis_s" -> "s", "catalyst.optimizer_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.plans" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.listing_jobs" -> "count",
    "spark.input_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "trace.overhead_s" -> "s", "trace.callback_s" -> "s") ++
    layers.flatMap(l => Seq(
      s"$l.self_s" -> "s", s"$l.driver_s" -> "s", s"$l.jobs" -> "count",
      s"$l.tasks" -> "count", s"$l.executor_cpu_s" -> "s",
      s"$l.input_bytes" -> "bytes", s"$l.shuffle_bytes" -> "bytes")) :+
    ("runner.listing_jobs" -> "count")

  /** A JSON number with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  }
}
