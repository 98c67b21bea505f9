package perfbench

/** Per-layer metrics derived from a traced run. Layers a workload does
  * not exercise read 0. See perfbench/README.md for which end-to-end
  * metric each one should move.
  */
object TraceLayers {

  /** The streaming queries of curation_stream. */
  val Queries = Seq("exact", "neardup", "ivfpq")
  val StreamFields = Seq("trigger_ms", "add_batch_ms", "fixed_ms", "latest_offset_ms",
    "query_planning_ms", "wal_commit_ms", "jobs_per_batch", "state_bytes", "state_dirs",
    "late_early_ratio")

  val names: Seq[String] =
    Seq("store.page_ms", "store.range_ms", "store.latest_ms", "store.jobs_per_read",
      "store.files_per_read", "store.partitions_per_read", "store.first_scan_ms",
      "store.jobs_per_upsert", "store.write_amp", "store.files_per_partition",
      "ops.resample_ms", "ops.jobs_per_resample", "sources.sql_ms", "plans.plan_ms") ++
      Queries.flatMap(q => StreamFields.map(f => s"streaming.$q.$f")) ++
      Seq("engine.jobs", "engine.tasks", "engine.task_run_ms", "engine.task_cpu_ms",
        "engine.gc_ms", "engine.shuffle_write_bytes", "engine.spill_bytes",
        "driver.outside_jobs_ms")

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The op spans of the timed loop. */
  def loopOps(t: Trace, o: Outcome): Seq[Span] =
    t.opSpans.filter(s => s.startUs >= o.loopStartUs && s.endUs <= o.loopEndUs)

  def jobsOf(t: Trace, s: Span): Seq[Job] = t.jobsIn(s.startUs, s.endUs)

  /** Wall time of the span not covered by any Spark job started in it. */
  def outsideJobsUs(t: Trace, s: Span): Long =
    Stats.selfUs(s, jobsOf(t, s).map(j => Span(j.id, s.id, s.op, "spark.job", j.startUs, j.endUs)))

  /** Engine counters over the timed loop, per op, and the driver time
    * outside Spark jobs (p50 over ops).
    */
  def engine(o: Outcome, t: Trace): Unit = {
    val ops = loopOps(t, o)
    val n = math.max(1, ops.size).toDouble
    val tasks = t.tasksIn(o.loopStartUs, o.loopEndUs)
    o.layer("engine.jobs") = t.jobsIn(o.loopStartUs, o.loopEndUs).size / n
    o.layer("engine.tasks") = tasks.size / n
    o.layer("engine.task_run_ms") = tasks.map(_.runMs).sum / n
    o.layer("engine.task_cpu_ms") = tasks.map(_.cpuNs).sum / 1e6 / n
    o.layer("engine.gc_ms") = o.extra.getOrElse("gc_ms", 0.0) / n
    o.layer("engine.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / n
    o.layer("engine.spill_bytes") = tasks.map(_.spill).sum / n
    o.layer("driver.outside_jobs_ms") = p50(ops.map(s => outsideJobsUs(t, s) / 1000.0))
  }

  /** Streaming phases of query `q` (run id `runId`) over the batches that
    * started in the timed loop.
    */
  def streaming(o: Outcome, t: Trace, q: String, runId: String,
                stateBytes: Long, stateDirs: Int): Unit = {
    val ps = t.progress.filter(p => p.runId == runId && p.startUs >= o.loopStartUs && p.startUs <= o.loopEndUs)
      .sortBy(_.batchId).toSeq
    def d(p: Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble
    val f = s"streaming.$q."
    o.layer(f + "trigger_ms") = p50(ps.map(d(_, "triggerExecution")))
    o.layer(f + "add_batch_ms") = p50(ps.map(d(_, "addBatch")))
    o.layer(f + "fixed_ms") = p50(ps.map(p => d(p, "triggerExecution") - d(p, "addBatch")))
    o.layer(f + "latest_offset_ms") = p50(ps.map(d(_, "latestOffset")))
    o.layer(f + "query_planning_ms") = p50(ps.map(d(_, "queryPlanning")))
    o.layer(f + "wal_commit_ms") = p50(ps.map(d(_, "walCommit")))
    o.layer(f + "jobs_per_batch") = mean(ps.map(p =>
      t.jobsIn(p.startUs, p.startUs + d(p, "triggerExecution").toLong * 1000L).size.toDouble))
    o.layer(f + "state_bytes") = stateBytes.toDouble
    o.layer(f + "state_dirs") = stateDirs.toDouble
    o.layer(f + "late_early_ratio") = lateEarly(ps.map(d(_, "addBatch")))
  }

  /** p50 of the last quarter of the samples over p50 of the first quarter
    * (at least one sample each).
    */
  def lateEarly(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val q = math.max(1, xs.size / 4)
      val early = p50(xs.take(q))
      if (early > 0) p50(xs.takeRight(q)) / early else 0.0
    }
}
