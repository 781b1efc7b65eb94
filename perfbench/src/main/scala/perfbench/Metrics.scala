package perfbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json
  * lists the same names; the benchmark's tests keep the two in step. */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(
    M("wall_s", "s"),
    M("rows_per_s", "rows/s"),
    M("peak_rss_mb", "MB"),
    M("setup_s", "s"))

  val perLayer: Seq[M] = Seq(
    M("spark.jobs", "count"),
    M("spark.stages", "count"),
    M("spark.stages_skipped", "count"),
    M("spark.tasks", "count"),
    M("spark.tasks_failed", "count"),
    M("spark.driver_outside_jobs_s", "s"),
    M("spark.core_busy_share", "share"),
    M("spark.task_run_s", "s"),
    M("spark.task_cpu_s", "s"),
    M("spark.gc_s", "s"),
    M("spark.shuffle_write_mb", "MB"),
    M("spark.shuffle_read_mb", "MB"),
    M("spark.spill_mb", "MB"),
    M("spark.max_task_shuffle_read_mb", "MB"),
    M("spark.peak_exec_mem_mb", "MB"),
    M("spark.input_mb", "MB"),
    M("spark.persisted_rdds_after", "count"),
    M("spark.storage_mb_after", "MB"),
    M("sql.executions", "count"),
    M("sql.analysis_s", "s"),
    M("sql.optimization_s", "s"),
    M("sql.planning_s", "s"),
    M("graph.pagerank_s", "s"),
    M("graph.label_prop_s", "s"),
    M("dedup.cc_star_s", "s"),
    M("dedup.cc_minlabel_s", "s"),
    M("graph.rounds", "count"),
    M("dedup.cc_rounds", "count"),
    M("graph.jobs_per_round", "count"),
    M("recommendation.swing_s", "s"),
    M("recommendation.swing_shuffle_mb", "MB"),
    M("api.fit_s", "s"),
    M("api.fit.string_indexer_s", "s"),
    M("api.fit.one_hot_encoder_s", "s"),
    M("api.fit.vector_assembler_s", "s"),
    M("api.fit.standard_scaler_s", "s"),
    M("api.fit.logistic_regression_s", "s"),
    M("classification.logreg_rounds", "count"),
    M("api.transform_s", "s"),
    M("api.score_s", "s"),
    M("api.score_rows_per_s", "rows/s"),
    M("text.exact_dedup_s", "s"),
    M("dedup.minhash_s", "s"),
    M("traced_wall_s", "s"),
    M("trace_overhead_share", "share"))

  private val Mb = 1048576.0

  /** The per-layer values one traced pass yields. Layers the workload
    * does not touch are absent; they print as 0 (no work done). */
  def layerValues(p: PassTrace, cores: Int, scoreRows: Long): Map[String, Double] = {
    val t = p.total
    val spark = Map[String, Double](
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.stages_skipped" -> t.stagesSkipped.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.tasks_failed" -> t.tasksFailed.toDouble,
      "spark.driver_outside_jobs_s" -> (p.wallS - p.jobUnionS),
      "spark.core_busy_share" -> t.taskRunMs / 1e3 / (p.wallS * cores),
      "spark.task_run_s" -> t.taskRunMs / 1e3,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.shuffle_write_mb" -> t.shuffleWrite / Mb,
      "spark.shuffle_read_mb" -> t.shuffleRead / Mb,
      "spark.spill_mb" -> t.spill / Mb,
      "spark.max_task_shuffle_read_mb" -> t.maxTaskShuffleRead / Mb,
      "spark.peak_exec_mem_mb" -> t.peakExecMem / Mb,
      "spark.input_mb" -> t.input / Mb,
      "sql.executions" -> p.sql(0).toDouble,
      "sql.analysis_s" -> p.sql(1) / 1e3,
      "sql.optimization_s" -> p.sql(2) / 1e3,
      "sql.planning_s" -> p.sql(3) / 1e3,
      "traced_wall_s" -> p.wallS)
    val spans = p.spans.map { case (name, (secs, _)) => s"${name}_s" -> secs }
    def spanJobs(names: String*) = names.flatMap(p.spans.get).map(_._2.jobs).sum.toDouble
    val graphRounds = p.notes.getOrElse("graph.rounds", 0.0) + p.notes.getOrElse("dedup.cc_rounds", 0.0)
    val derived = Seq(
      p.spans.get("recommendation.swing").map { case (_, c) =>
        "recommendation.swing_shuffle_mb" -> (c.shuffleRead + c.shuffleWrite) / Mb },
      p.spans.get("api.fit.logistic_regression").map { case (_, c) =>
        "classification.logreg_rounds" -> c.treeJobs.toDouble },
      for (tf <- p.spans.get("api.transform"); sc <- p.spans.get("api.score"))
        yield "api.score_rows_per_s" -> scoreRows / (tf._1 + sc._1),
      Option.when(graphRounds > 0)("graph.jobs_per_round" ->
        spanJobs("graph.pagerank", "graph.label_prop", "dedup.cc_star", "dedup.cc_minlabel") / graphRounds)
    ).flatten
    spark ++ spans ++ p.notes ++ derived
  }
}
