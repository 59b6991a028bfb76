package perfbench

/** A reported metric: name, unit and which direction is better. */
final case class Metric(name: String, unit: String, better: String)

/** The metric catalog and the arithmetic that turns a run's samples,
  * spans and listener records into it. `BENCHMARK.json` declares the
  * same names; a test keeps the two in step.
  */
object Report {
  type Samples = collection.Map[String, Seq[Double]]
  type Gauges = collection.Map[String, Double]

  private def lo(n: String, u: String) = Metric(n, u, "lower")
  private def hi(n: String, u: String) = Metric(n, u, "higher")

  val EndToEnd: Seq[Metric] = Seq(
    lo("setup_s", "s"), hi("ingest_docs_per_s", "docs/s"), lo("resident_mb", "MB"),
    lo("search_p50_ms", "ms"), lo("search_p90_ms", "ms"), hi("search_qps_c4", "searches/s"),
    lo("filtered_search_p50_ms", "ms"), lo("commit_p50_ms", "ms"), lo("delete_p50_ms", "ms"),
    lo("visible_p50_ms", "ms"), lo("batch_wall_s", "s"), lo("dedup_wall_s", "s"),
    lo("text_wall_s", "s"), lo("pipeline_wall_s", "s"), lo("search_ops_wall_s", "s"))

  private val moduleWall = Map("dedup" -> "dedup_wall_s", "text" -> "text_wall_s",
    "pipeline" -> "pipeline_wall_s", "search_ops" -> "search_ops_wall_s")

  val LayerFixed: Seq[Metric] = Seq(
    // search funnel
    lo("search.jobs_per_query", "count"), lo("search.tasks_per_query", "count"),
    lo("search.job_ms_p50", "ms"), lo("search.slowest_task_ms_p50", "ms"),
    lo("search.driver_ms_p50", "ms"), hi("search.rows_per_task_ms", "rows/ms"),
    lo("search.sched_delay_ms_p50", "ms"),
    // concurrency
    lo("search_c4.job_ms_p50", "ms"), lo("search_c4.sched_delay_ms_p50", "ms"),
    hi("search_c4.exec_busy_ratio", "ratio"),
    // selectors
    lo("selector.cold_ms", "ms"), lo("selector.warm_ms", "ms"),
    lo("filtered.job_ms_p50", "ms"), lo("filtered.driver_ms_p50", "ms"),
    // ingest and serving build
    lo("ingest.spark_jobs", "count"), lo("ingest.shuffle_write_mb", "MB"),
    hi("ingest.exec_busy_ratio", "ratio"), lo("serve.build_ms", "ms"),
    lo("serve.blocks", "count"), lo("serve.storage_mb", "MB"), lo("jvm.gc_ms", "ms"),
    // commit protocol
    lo("commit.spark_jobs", "count"), lo("commit.spark_tasks", "count"),
    lo("commit.job_ms", "ms"), lo("commit.driver_ms", "ms"), lo("commit.bytes_written", "bytes"),
    lo("delete.spark_jobs", "count"), lo("delete.driver_ms", "ms"),
    lo("delete.bytes_written", "bytes"), lo("compact.ms", "ms"),
    lo("compact.bytes_rewritten", "bytes"), lo("mor.pending_deltas_max", "count"),
    lo("mor.retained_generations_max", "count"), lo("mor.db_bytes_per_live_doc", "bytes"),
    // incremental serving
    lo("serve.refresh_ms", "ms"), lo("serve.chain_depth_max", "count"),
    lo("serve.absorbs", "count"), lo("serve.background_jobs", "count"),
    lo("serve.background_task_ms", "ms")) ++
    // operator modules
    BatchOps.ReportedModules.flatMap(m => Seq(lo(s"$m.spark_jobs", "count"),
      lo(s"$m.shuffle_write_mb", "MB"), lo(s"$m.spill_mb", "MB"))) ++
    Seq(lo("trace.overhead_pct", "%"))

  def queryMetric(q: String): Metric = lo(s"q.${q}_s", "s")

  def perLayer(queries: Seq[String]): Seq[Metric] = LayerFixed ++ queries.map(queryMetric)

  // ---- end-to-end ---------------------------------------------------

  /** End-to-end values from a run's samples (lists of measured values
    * by name) and gauges (single values by name); NaN where nothing was
    * measured.
    */
  def endToEnd(samples: Samples, gauges: Gauges): Map[String, Double] = {
    def get(n: String): Seq[Double] = samples.getOrElse(n, Nil)
    def med(n: String): Double = if (get(n).isEmpty) Double.NaN else Stats.median(get(n))
    val queryMs = queryMedians(samples)
    def wall(pred: String => Boolean): Double =
      if (queryMs.isEmpty) Double.NaN
      else queryMs.collect { case (q, v) if pred(q) => v }.sum
    Map(
      "setup_s" -> med("setup_s"),
      "ingest_docs_per_s" -> gauges.getOrElse("ingest_docs_per_s", Double.NaN),
      "resident_mb" -> gauges.getOrElse("resident_mb", Double.NaN),
      "search_p50_ms" -> med("search_ms"),
      "search_p90_ms" -> (if (get("search_ms").size >= Stats.minSamplesFor(90))
        Stats.tail(get("search_ms"), 90) else Double.NaN),
      "search_qps_c4" -> med("search_qps_c4"),
      "filtered_search_p50_ms" -> med("filtered_search_ms"),
      "commit_p50_ms" -> med("commit_ms"),
      "delete_p50_ms" -> med("delete_ms"),
      "visible_p50_ms" -> med("visible_ms"),
      "batch_wall_s" -> wall(_ => true)) ++
      moduleWall.map { case (m, name) => name -> wall(q => BatchOps.module(q) == m) }
  }

  /** Per-query wall in seconds. */
  def queryMedians(samples: Samples): Map[String, Double] =
    samples.collect { case (k, v) if k.startsWith("q.") && v.nonEmpty =>
      k.stripPrefix("q.").stripSuffix("_s") -> Stats.median(v)
    }.toMap

  // ---- per-layer ----------------------------------------------------

  def perLayerValues(samples: Samples, gauges: Gauges, spans: Seq[Span], jobs: Seq[JobRec],
                     slots: Int, searchedRows: Long, storageMb: Double, gcMs: Double,
                     overheadPct: Double): Map[String, Double] = {
    val (bySpan, loose) = Tracer.attribute(spans, jobs)
    def jobsOf(s: Span): Seq[JobRec] = bySpan.getOrElse(s.id, Nil)
    def spansNamed(n: String) = spans.filter(_.name == n)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def jobWindows(js: Seq[JobRec]) = js.map(j => (j.submitMs, j.endMs))
    def coveredOf(s: Span): Double =
      Stats.coveredMs(jobWindows(jobsOf(s)), s.startMs, s.endMs).toDouble
    def driverOf(s: Span): Double =
      Stats.driverMs(s.wallMs, jobWindows(jobsOf(s)), s.startMs, s.endMs)
    def funnel(prefix: String, ss: Seq[Span]): Map[String, Double] = Map(
      s"$prefix.job_ms_p50" -> med(ss.map(coveredOf)),
      s"$prefix.driver_ms_p50" -> med(ss.map(driverOf)))

    val search = spansNamed("search")
    val searchJobs = search.flatMap(jobsOf)
    val execPerQuery = med(search.map(s => jobsOf(s).map(_.execRunMs).sum.toDouble))
    val searchM = funnel("search", search) ++ Map(
      "search.jobs_per_query" -> searchJobs.size.toDouble / math.max(1, search.size),
      "search.tasks_per_query" ->
        searchJobs.map(_.tasks.size).sum.toDouble / math.max(1, search.size),
      "search.slowest_task_ms_p50" -> med(search.map(s => jobsOf(s).map(_.slowestTaskMs)
        .foldLeft(0L)(math.max).toDouble)),
      "search.rows_per_task_ms" -> (if (execPerQuery > 0) searchedRows / execPerQuery else 0.0),
      "search.sched_delay_ms_p50" -> med(searchJobs.map(_.schedDelayMs.toDouble)))

    // The concurrent rounds' jobs, by the rounds' windows.
    val c4Windows = samples.getOrElse("search_c4.window_start_ms", Nil).map(_.toLong)
      .zip(samples.getOrElse("search_c4.window_end_ms", Nil).map(_.toLong))
    val c4Jobs = jobs.filter(j => !j.isBackground &&
      c4Windows.exists { case (from, to) => j.submitMs >= from && j.submitMs <= to })
    val c4M = Map(
      "search_c4.job_ms_p50" -> med(c4Jobs.map(_.wallMs.toDouble)),
      "search_c4.sched_delay_ms_p50" -> med(c4Jobs.map(_.schedDelayMs.toDouble)),
      "search_c4.exec_busy_ratio" -> Stats.execBusyRatio(c4Jobs.map(_.execRunMs).sum.toDouble,
        c4Windows.map { case (from, to) => (to - from).toDouble }.sum, slots))

    val selM = Map(
      "selector.cold_ms" -> med(spansNamed("selector_cold").map(_.wallMs)),
      "selector.warm_ms" -> med(spansNamed("selector_warm").map(_.wallMs))) ++
      funnel("filtered", spansNamed("filtered"))

    val ingest = spansNamed("ingest").lastOption
    val ingestJobs = ingest.map(jobsOf).getOrElse(Nil)
    val ingestM = Map(
      "ingest.spark_jobs" -> ingestJobs.size.toDouble,
      "ingest.shuffle_write_mb" -> ingestJobs.map(_.shuffleWriteBytes).sum / 1048576.0,
      "ingest.exec_busy_ratio" -> ingest.map(s =>
        Stats.execBusyRatio(ingestJobs.map(_.execRunMs).sum.toDouble, s.wallMs, slots))
        .getOrElse(0.0),
      "serve.build_ms" -> med(spansNamed("serve_build").map(_.wallMs)),
      "serve.blocks" -> gauges.getOrElse("serve.blocks", 0.0),
      "serve.storage_mb" -> storageMb,
      "jvm.gc_ms" -> gcMs)

    def sample(n: String): Seq[Double] = samples.getOrElse(n, Nil)
    def maxOf(n: String): Double = sample(n).foldLeft(0.0)(math.max)
    val commits = spansNamed("commit")
    val deletes = spansNamed("delete")
    val commitM = Map(
      "commit.spark_jobs" -> med(commits.map(jobsOf(_).size.toDouble)),
      "commit.spark_tasks" -> med(commits.map(jobsOf(_).map(_.tasks.size).sum.toDouble)),
      "commit.job_ms" -> med(commits.map(coveredOf)),
      "commit.driver_ms" -> med(commits.map(driverOf)),
      "commit.bytes_written" -> med(sample("commit.bytes_written")),
      "delete.spark_jobs" -> med(deletes.map(jobsOf(_).size.toDouble)),
      "delete.driver_ms" -> med(deletes.map(driverOf)),
      "delete.bytes_written" -> med(sample("delete.bytes_written")),
      "compact.ms" -> med(sample("compact.ms")),
      "compact.bytes_rewritten" -> med(sample("compact.bytes_rewritten")),
      "mor.pending_deltas_max" -> maxOf("mor.pending_deltas"),
      "mor.retained_generations_max" -> maxOf("mor.retained_generations"),
      "mor.db_bytes_per_live_doc" -> gauges.getOrElse("mor.db_bytes_per_live_doc", 0.0))

    val background = loose.filter(_.isBackground)
    val incM = Map(
      "serve.refresh_ms" ->
        Stats.refreshMs(med(sample("probe_ms")), med(sample("churn_search_ms"))),
      "serve.chain_depth_max" -> maxOf("serve.chain_depth"),
      "serve.absorbs" -> gauges.getOrElse("serve.absorbs", 0.0),
      "serve.background_jobs" -> background.size.toDouble,
      "serve.background_task_ms" -> background.map(_.execRunMs).sum.toDouble)

    // Operator modules: jobs, shuffle and spill over the module's
    // queries, per timed pass.
    val querySpans = spans.filter(_.name.startsWith("query:"))
    val passes = math.max(1, querySpans.groupBy(_.name).values.map(_.size).maxOption.getOrElse(1))
    val moduleM = BatchOps.ReportedModules.flatMap { m =>
      val js = querySpans.filter(s => BatchOps.module(s.name.stripPrefix("query:")) == m)
        .flatMap(jobsOf)
      Seq(s"$m.spark_jobs" -> js.size.toDouble / passes,
        s"$m.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1048576.0 / passes,
        s"$m.spill_mb" -> js.map(_.spillBytes).sum / 1048576.0 / passes)
    }.toMap

    val queryM = queryMedians(samples).map { case (q, v) => s"q.${q}_s" -> v }
    searchM ++ c4M ++ selM ++ ingestM ++ commitM ++ incM ++ moduleM ++ queryM ++
      Map("trace.overhead_pct" -> overheadPct)
  }

  // ---- output -------------------------------------------------------

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The result line: exactly `correct`, `attempted`, `failed` and
    * `metrics`.
    */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(Metric, Double)]): String = {
    val ms = metrics.map { case (m, v) =>
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
