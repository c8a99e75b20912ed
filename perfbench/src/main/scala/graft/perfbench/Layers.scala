package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Jobs and stages are attributed to a
  * layer by the span window they started in: most job call sites read
  * `... at CompletableFuture.java`, so the call site cannot name the layer.
  * A layer the workload does not exercise reports 0.
  */
object Layers {
  private type Metrics = Map[String, Map[String, Any]]
  private def m(value: Double, unit: String) = Map[String, Any]("value" -> value, "unit" -> unit)

  private def isSchemaJob(j: JobRec) = j.stageNames.exists(_.startsWith("parquet at "))

  private def sources(jobs: Seq[JobRec], stages: Seq[StageRec], per: Double): Metrics = {
    val schema = jobs.filter(isSchemaJob)
    Map(
      "sources.schema_jobs" -> m(schema.size / per, "count"),
      "sources.schema_s" -> m(schema.map(_.seconds).sum / per, "s"),
      "sources.input_bytes" -> m(stages.map(_.inputBytes).sum / per, "B"),
      "sources.input_records" -> m(stages.map(_.inputRecords).sum / per, "count"))
  }

  private def exec(wallS: Double, jobs: Seq[JobRec], stages: Seq[StageRec], cores: Int, per: Double): Metrics = {
    val taskS = stages.map(_.runS).sum
    Map(
      "exec.s" -> m(wallS / per, "s"),
      "exec.jobs" -> m(jobs.size / per, "count"),
      "exec.stages" -> m(stages.size / per, "count"),
      "exec.tasks" -> m(stages.map(_.tasks).sum / per, "count"),
      "exec.task_s" -> m(taskS / per, "s"),
      "exec.cpu_s" -> m(stages.map(_.cpuS).sum / per, "s"),
      "exec.busy_share" -> m(if (wallS > 0) taskS / (wallS * cores) else 0.0, "share"),
      "exec.single_task_stages" -> m(stages.count(_.tasks == 1) / per, "count"),
      "exec.shuffle_read_bytes" -> m(stages.map(_.shuffleRead).sum / per, "B"),
      "exec.shuffle_write_bytes" -> m(stages.map(_.shuffleWrite).sum / per, "B"),
      "exec.spill_bytes" -> m(stages.map(_.spill).sum / per, "B"))
  }

  /** Query workloads: every value is per pass over the query list. */
  def queries(runs: Seq[QueryRun], rec: JobRecorder, cores: Int, passes: Double): Metrics = {
    val builds = runs.map(_.build)
    val plans = runs.map(_.plan)
    val execs = runs.map(_.exec)
    val all = builds ++ plans ++ execs
    val buildJobs = rec.jobsIn(builds)
    sources(rec.jobsIn(all), rec.stagesIn(all), passes) ++
      Map(
        "build.s" -> m(builds.map(_.seconds).sum / passes, "s"),
        "build.jobs" -> m(buildJobs.size / passes, "count"),
        "build.job_s" -> m(buildJobs.map(_.seconds).sum / passes, "s"),
        "plan.s" -> m(plans.map(_.seconds).sum / passes, "s"),
        "plan.exchanges" -> m(runs.map(_.exchanges).sum / passes, "count")) ++
      exec(execs.map(_.seconds).sum, rec.jobsIn(execs), rec.stagesIn(execs), cores, passes) ++
      idleStream
  }

  /** The ingest workload: stream metrics per micro-batch, the layers below
    * summed over the whole stream.
    */
  def ingest(r: IngestRun, batchSpans: Seq[Span], rec: JobRecorder, spark: SparkSession, cores: Int): Metrics = {
    val window = Seq(r.window)
    val jobs = rec.jobsIn(window)
    val stages = rec.stagesIn(window)
    val batches = r.batches
    def p50(key: String) = if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.durationS(key)))
    val writes = rec.synchronized(rec.sqlExecs.filter(e => e.write && r.window.covers(e.start)).toSeq)
    val writeIds = writes.map(_.id).toSet
    val processedRows =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(r.sinks.processed)))
        spark.read.parquet(r.sinks.processed).count().toDouble
      else 0.0
    sources(jobs, stages, 1.0) ++
      Map(
        "build.s" -> m(0.0, "s"), "build.jobs" -> m(0.0, "count"), "build.job_s" -> m(0.0, "s"),
        "plan.s" -> m(0.0, "s"), "plan.exchanges" -> m(0.0, "count")) ++
      exec(r.window.seconds, jobs, stages, cores, 1.0) ++
      Map(
        "stream.trigger_p50_s" -> m(p50("triggerExecution"), "s"),
        "stream.add_batch_p50_s" -> m(p50("addBatch"), "s"),
        "stream.planning_p50_s" -> m(p50("queryPlanning"), "s"),
        "stream.get_batch_p50_s" -> m(p50("getBatch"), "s"),
        "stream.wal_commit_p50_s" -> m(p50("walCommit"), "s"),
        "stream.batches" -> m(batches.size, "count"),
        "stream.events_per_batch_p50" -> m(
          if (batches.isEmpty) 0.0 else Stats.median(eventsPerBatch(r)), "count"),
        "stream.jobs_per_batch" -> m(
          if (batches.isEmpty) 0.0 else rec.jobsIn(batchSpans).size.toDouble / batches.size, "count"),
        "stream.backlog_max_events" -> m(backlogMax(r), "count"),
        "stream.generator_late_max_s" -> m(r.generatorLateMaxS, "s"),
        "sinks.write_jobs" -> m(jobs.count(_.sqlExec.exists(writeIds)), "count"),
        "sinks.write_s" -> m(writes.map(_.seconds).sum, "s"),
        "sinks.files" -> m(Seq(r.sinks.updates, r.sinks.completed, r.sinks.errors)
          .map(IngestStream.countFiles(_, ".parquet")).sum, "count"),
        "state.processed_files" -> m(IngestStream.countFiles(r.sinks.processed, ".parquet"), "count"),
        "state.processed_rows" -> m(processedRows, "count"))
  }

  /** Events each non-empty micro-batch took in, from its offset range.
    * (`numInputRows` counts the batch once per scan of it, and the
    * importer scans each batch twice.)
    */
  def eventsPerBatch(r: IngestRun): Seq[Double] = {
    val perTick = r.events.toDouble / math.max(r.ticks, 1)
    val ends = r.progress.map(_.endOffset).filter(_ >= 0).distinct.sorted
    ends.zip(-1L +: ends).map { case (e, s) => (e - s) * perTick }
  }

  /** Most events sent but not yet covered by a finished micro-batch, sampled
    * just before each progress report.
    */
  def backlogMax(r: IngestRun): Double = {
    val perTick = r.events.toDouble / math.max(r.ticks, 1)
    r.progress.map { p =>
      val sent = r.sends.count(_ < p.at)
      val covered = math.max(0L, math.min(p.endOffset + 1, r.ticks.toLong))
      math.max(0.0, (sent - covered) * perTick)
    }.maxOption.getOrElse(0.0)
  }

  /** The stream layers, on a workload that runs no stream. */
  val idleStream: Metrics = Seq(
    "stream.trigger_p50_s", "stream.add_batch_p50_s", "stream.planning_p50_s",
    "stream.get_batch_p50_s", "stream.wal_commit_p50_s", "stream.generator_late_max_s", "sinks.write_s")
    .map(_ -> m(0.0, "s")).toMap ++
    Seq("stream.batches", "stream.events_per_batch_p50", "stream.jobs_per_batch", "stream.backlog_max_events",
      "sinks.write_jobs", "sinks.files", "state.processed_files", "state.processed_rows")
      .map(_ -> m(0.0, "count")).toMap

  def jvm(gcS: Double, heapPeakMb: Double): Metrics =
    Map("jvm.gc_s" -> m(gcS, "s"), "jvm.heap_peak_mb" -> m(heapPeakMb, "MB"))
}
