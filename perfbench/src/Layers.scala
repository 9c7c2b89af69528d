package perfbench

/** Per-layer metrics of the traced iterations, named after the
  * program's modules. Totals are per traced iteration, so runs of
  * different lengths compare. */
object Layers {

  def apply(ctx: Ctx, iterations: Int, measuredTracedS: Double): Seq[(String, Double, String)] = {
    val t = ctx.trace
    val n = math.max(1, iterations).toDouble
    val stagesOf = t.jobs.map(j => j.id -> j.stages.flatMap(t.stages.get)).toMap
    def taskS(js: Seq[t.Job]) = js.flatMap(j => stagesOf(j.id)).distinct.map(_.run).sum
    def jobsOf(module: String) = t.jobs.filter(_.module == module).toSeq
    def moduleSpans(m: String)(s: t.Span) = s.module == m
    val ran = t.stages.values.toSeq.filter(_.completed)
    def ms(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    def p50(k: String) = Stats.median(ctx.tracedSamples.getOrElse(k, Nil).toSeq)

    val pipelineJobs = t.jobsIn(moduleSpans("pipeline"))
    val pipelineSpans = t.spans.filter(s => s.module == "pipeline" && s.parent < 0)
    val requests = t.spans.filter(_.name == "serve.request").toSeq
    val serveJobs = t.jobsIn(_.name == "serve.request")
    val writes = t.queries.filter(_.filesWritten > 0)
    val progress = t.progress.map(_.progress).toSeq
    val triggers = progress.filter(_.numInputRows > 0)
    def dur(k: String) = ms(triggers.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    val state = triggers.flatMap(_.stateOperators)
    val cpu = ran.map(_.cpu).sum
    val run = ran.map(_.run).sum

    Seq(
      ("pipeline.jobs", pipelineJobs.size / n, "count"),
      ("pipeline.job_wall_s", pipelineSpans.map(s => t.covered(s.start, s.end,
        t.jobs.filter(_.end > 0).map(j => (j.start, j.end)).toSeq)).sum / 1e9 / n, "s"),
      ("pipeline.driver_s", t.driverNs(s => s.module == "pipeline" && s.parent < 0) / 1e9 / n, "s"),
      ("catalyst.actions", t.queries.size / n, "count"),
      ("catalyst.analysis_ms", t.queries.map(_.analysisMs).sum / n, "ms"),
      ("catalyst.optimization_ms", t.queries.map(_.optimizationMs).sum / n, "ms"),
      ("catalyst.planning_ms", t.queries.map(_.planningMs).sum / n, "ms"),
      ("exec.jobs", t.jobs.size / n, "count"),
      ("exec.stages", ran.size / n, "count"),
      ("exec.tasks", ran.map(_.tasks).sum / n, "count"),
      ("exec.task_run_s", run / n, "s"),
      ("exec.task_cpu_s", cpu / n, "s"),
      ("exec.cpu_per_run", if (run > 0) cpu / run else 0.0, "ratio"),
      ("exec.gc_s", ran.map(_.gc).sum / n, "s"),
      ("exec.shuffle_write_mb", ran.map(_.shWrite).sum / 1e6 / n, "MB"),
      ("exec.shuffle_read_mb", ran.map(_.shRead).sum / 1e6 / n, "MB"),
      ("exec.spill_mb", ran.map(_.spill).sum / 1e6 / n, "MB"),
      // task time spent in stages of one task: work no other core can share
      ("exec.single_task_stage_s", ran.filter(_.tasks == 1).map(_.run).sum / n, "s"),
      ("exec.core_busy_share", run / math.max(1e-9, measuredTracedS * ctx.nproc), "ratio"),
      ("sources.jobs", jobsOf("sources").size / n, "count"),
      ("sources.task_s", taskS(jobsOf("sources")) / n, "s"),
      ("sources.input_mb", ran.map(_.input).sum / 1e6 / n, "MB"),
      ("sinks.jobs", jobsOf("sinks").size / n, "count"),
      ("sinks.task_s", taskS(jobsOf("sinks")) / n, "s"),
      ("sinks.count_jobs", t.jobs.count(j => j.callSite.startsWith("count at MergeByKey")) / n, "count"),
      ("sinks.output_mb", ran.map(_.output).sum / 1e6 / n, "MB"),
      ("sinks.files_written", writes.map(_.filesWritten).sum / n, "count"),
      ("sinks.rows_written_per_row_in",
        writes.map(_.rowsWritten).sum.toDouble / math.max(1L, ctx.tracedRowsIn), "ratio"),
      ("sinks.read_resolve_ms.p50", p50("read_resolve_ms"), "ms"),
      ("serve.jobs_per_request", serveJobs.size.toDouble / math.max(1, requests.size), "count"),
      ("serve.task_s_per_request", taskS(serveJobs) / math.max(1, requests.size), "s"),
      ("serve.driver_ms.p50", ms(requests.map(r => t.driverNs(_.id == r.id) / 1e6)), "ms"),
      ("streaming.jobs", jobsOf("streaming").size / n, "count"),
      ("streaming.task_s", taskS(jobsOf("streaming")) / n, "s"),
      ("streaming.triggers", triggers.size / n, "count"),
      ("streaming.idle_triggers", triggers.count(_.stateOperators.map(_.numRowsUpdated).sum == 0) / n, "count"),
      ("streaming.add_batch_ms.p50", dur("addBatch"), "ms"),
      ("streaming.query_planning_ms.p50", dur("queryPlanning"), "ms"),
      ("streaming.latest_offset_ms.p50", dur("latestOffset"), "ms"),
      ("streaming.wal_commit_ms.p50", dur("walCommit"), "ms"),
      ("streaming.state_rows", state.map(_.numRowsTotal).sum.toDouble / math.max(1, triggers.size), "count"),
      ("streaming.state_commit_ms.p50", ms(state.map(_.commitTimeMs.toDouble)), "ms"),
      ("streaming.watermark_dropped_rows", state.map(_.numRowsDroppedByWatermark).sum / n, "count"),
      ("operators.jobs", (jobsOf("operators") ++ jobsOf("expressions")).size / n, "count"),
      ("operators.task_s", taskS(jobsOf("operators") ++ jobsOf("expressions")) / n, "s"),
      ("caches.frames_peak", t.samples.map(_._1.toDouble).maxOption.getOrElse(0.0), "count"),
      ("caches.storage_mb_peak", t.samples.map(_._2 / 1e6).maxOption.getOrElse(0.0), "MB"),
      ("unattributed.jobs", jobsOf("unattributed").size / n, "count"),
      ("unattributed.task_s", taskS(jobsOf("unattributed")) / n, "s"))
  }
}
