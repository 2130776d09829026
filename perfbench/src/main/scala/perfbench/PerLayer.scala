package perfbench

/** The traced run's per-layer metrics, named after the repo's modules.
  * Every traced run emits every name in [[names]]; a layer a workload
  * never calls reports 0 (its base, e.g. `obs_ingest.sources`, is 0
  * too). Every ratio is emitted next to its base. */
object PerLayer {
  val Ops: Seq[String] = Seq("obs", "allparms", "forecast", "nowcast")

  val names: Seq[(String, String)] = Seq(
    // workload-level figures of the traced run
    "cycle_s" -> "s", "cycles" -> "count", "cycle_obs_ingest_s" -> "s",
    "cycle_model_ingest_s" -> "s",
    "serve_p50_ms" -> "ms", "serve_p95_ms" -> "ms") ++
    Ops.map(op => s"${op}_p50_ms" -> "ms") ++ Seq(
    "stored_bytes_per_input_byte" -> "ratio", "suite_s" -> "s",
    "failed_ratio" -> "ratio", "attempted" -> "count", "cores" -> "count",
    "trace.op_p50_ms" -> "ms", "trace.callback_ms" -> "ms", "trace.drain_ms" -> "ms",
    "trace.overhead_frac" -> "ratio",
    // IngestCli.sequenceIngest -> domain.ObsIngest
    "obs_ingest.sources" -> "count", "obs_ingest.source_s" -> "s",
    "obs_ingest.jobs_per_source" -> "count", "obs_ingest.tasks_per_source" -> "count",
    "obs_ingest.exec_s" -> "s", "obs_ingest.wall_s" -> "s", "obs_ingest.exec_busy_frac" -> "ratio",
    "obs_ingest.input_bytes_per_source" -> "B", "obs_ingest.output_bytes_per_source" -> "B",
    "obs_ingest.shuffle_bytes_per_source" -> "B",
    // IngestCli.sequenceIngest, bulk path
    "backfill.rows" -> "count", "backfill.s" -> "s", "backfill.rows_per_s" -> "1/s",
    // IngestCli.modelRunIngest -> domain.ModelIngest
    "model_ingest.runs" -> "count", "model_ingest.reruns" -> "count",
    "model_ingest.run_s" -> "s", "model_ingest.rerun_s" -> "s",
    "model_ingest.jobs_per_run" -> "count", "model_ingest.jobs_per_rerun" -> "count",
    "model_ingest.exec_s" -> "s", "model_ingest.wall_s" -> "s",
    "model_ingest.exec_busy_frac" -> "ratio", "model_ingest.output_bytes_per_run" -> "B",
    // domain.SnapshotGaugeStore.rollupDaily
    "rollup.calls" -> "count", "rollup.s" -> "s", "rollup.jobs" -> "count",
    "rollup.groups_rebuilt" -> "count", "rollup.input_bytes" -> "B",
    // domain.QueryServe / domain.QueryApi
    "serve.requests" -> "count", "serve.rows_returned" -> "count") ++
    Ops.flatMap(op => Seq(s"serve.$op.requests" -> "count", s"serve.$op.jobs_per_request" -> "count")) ++ Seq(
    "serve.broadcast_jobs_per_request" -> "count", "serve.exec_ms_per_request" -> "ms",
    "serve.input_bytes_per_request" -> "B", "serve.files_read_per_request" -> "count",
    "serve.rows_read" -> "count", "serve.rows_read_per_row_returned" -> "ratio",
    // sources.SnapshotTable on disk
    "store.input_bytes" -> "B", "store.days" -> "count", "store.data_files" -> "count",
    "store.bytes" -> "B", "store.log_entries" -> "count", "store.data_files_per_day" -> "count",
    // queries.* modules
    "suite.queries" -> "count", "suite.passes" -> "count") ++
    Suite.modules.map(_._1).flatMap(mod => Seq(s"suite.${mod}_s" -> "s", s"suite.$mod.shuffle_bytes" -> "B")) ++ Seq(
    "suite.build_s" -> "s", "suite.jobs" -> "count", "suite.task_skew" -> "ratio")

  private def mean(xs: Seq[Double]) = Stats.mean(xs)

  def apsviz(a: Apsviz, ctx: Ctx, m: Metrics): Unit = {
    val obs = a.layers.of("obs_ingest")
    val obsWall = obs.map(_.wallMs).sum / 1000
    val obsExec = obs.map(_.execRunMs).sum / 1000.0
    m.put("obs_ingest.sources", obs.size.toDouble, "count")
    m.put("obs_ingest.source_s", Stats.median(obs.map(_.wallMs)) / 1000, "s")
    m.put("obs_ingest.jobs_per_source", mean(obs.map(_.jobs.toDouble)), "count")
    m.put("obs_ingest.tasks_per_source", mean(obs.map(_.tasks.toDouble)), "count")
    m.put("obs_ingest.exec_s", obsExec, "s")
    m.put("obs_ingest.wall_s", obsWall, "s")
    m.put("obs_ingest.exec_busy_frac", Stats.ratio(obsExec, obsWall * ctx.cores), "ratio")
    m.put("obs_ingest.input_bytes_per_source", mean(obs.map(_.bytesRead.toDouble)), "B")
    m.put("obs_ingest.output_bytes_per_source", mean(obs.map(_.outputBytes.toDouble)), "B")
    m.put("obs_ingest.shuffle_bytes_per_source", mean(obs.map(_.shuffleBytes.toDouble)), "B")

    val runs = a.layers.of("model_ingest.run")
    val reruns = a.layers.of("model_ingest.rerun")
    val both = runs ++ reruns
    val mWall = both.map(_.wallMs).sum / 1000
    val mExec = both.map(_.execRunMs).sum / 1000.0
    m.put("model_ingest.runs", runs.size.toDouble, "count")
    m.put("model_ingest.reruns", reruns.size.toDouble, "count")
    m.put("model_ingest.run_s", Stats.median(runs.map(_.wallMs)) / 1000, "s")
    m.put("model_ingest.rerun_s", Stats.median(reruns.map(_.wallMs)) / 1000, "s")
    m.put("model_ingest.jobs_per_run", mean(runs.map(_.jobs.toDouble)), "count")
    m.put("model_ingest.jobs_per_rerun", mean(reruns.map(_.jobs.toDouble)), "count")
    m.put("model_ingest.exec_s", mExec, "s")
    m.put("model_ingest.wall_s", mWall, "s")
    m.put("model_ingest.exec_busy_frac", Stats.ratio(mExec, mWall * ctx.cores), "ratio")
    m.put("model_ingest.output_bytes_per_run", mean(runs.map(_.outputBytes.toDouble)), "B")

    val roll = a.layers.of("rollup")
    m.put("rollup.calls", roll.size.toDouble, "count")
    m.put("rollup.s", Stats.median(roll.map(_.wallMs)) / 1000, "s")
    m.put("rollup.jobs", mean(roll.map(_.jobs.toDouble)), "count")
    m.put("rollup.groups_rebuilt", mean(a.rollupGroups.map(_.toDouble).toSeq), "count")
    m.put("rollup.input_bytes", mean(roll.map(_.bytesRead.toDouble)), "B")

    val served = a.served.toSeq
    val spans = served.map(_._4)
    val rowsOut = served.map(_._3).sum
    m.put("serve.requests", served.size.toDouble, "count")
    m.put("serve.rows_returned", rowsOut.toDouble, "count")
    m.put("serve_p50_ms", Stats.median(served.map(_._2)), "ms")
    m.put("serve_p95_ms", Stats.quantile(served.map(_._2), 0.95), "ms")
    Ops.foreach { op =>
      val mine = served.filter(_._1 == op)
      m.put(s"${op}_p50_ms", Stats.median(mine.map(_._2)), "ms")
      m.put(s"serve.$op.requests", mine.size.toDouble, "count")
      m.put(s"serve.$op.jobs_per_request", mean(mine.map(_._4.jobs.toDouble)), "count")
    }
    m.put("serve.broadcast_jobs_per_request", mean(spans.map(_.broadcastJobs.toDouble)), "count")
    m.put("serve.exec_ms_per_request", mean(spans.map(_.execRunMs.toDouble)), "ms")
    m.put("serve.input_bytes_per_request", mean(spans.map(_.bytesRead.toDouble)), "B")
    m.put("serve.files_read_per_request", mean(spans.map(_.filesRead.toDouble)), "count")
    m.put("serve.rows_read", spans.map(_.scanRows).sum.toDouble, "count")
    m.put("serve.rows_read_per_row_returned", Stats.ratio(spans.map(_.scanRows).sum, rowsOut), "ratio")
  }

  def suite(passes: Seq[Seq[(String, SpanStats)]], module: Map[String, String],
      ctx: Ctx, m: Metrics): Unit = {
    val byQuery = passes.flatten.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }
    def med(q: String, f: SpanStats => Double) = Stats.median(byQuery(q).map(f))
    m.put("suite_s", Stats.median(passes.map(_.map(_._2.wallMs).sum)) / 1000, "s")
    m.put("suite.queries", byQuery.size.toDouble, "count")
    m.put("suite.passes", passes.size.toDouble, "count")
    Suite.modules.map(_._1).foreach { mod =>
      val qs = byQuery.keys.filter(q => module.get(q).contains(mod)).toSeq
      m.put(s"suite.${mod}_s", qs.map(med(_, _.wallMs)).sum / 1000, "s")
      m.put(s"suite.$mod.shuffle_bytes", qs.map(med(_, _.shuffleBytes.toDouble)).sum, "B")
    }
    m.put("suite.build_s", byQuery.keys.toSeq.map(med(_, _.buildMs)).sum / 1000, "s")
    m.put("suite.jobs", Stats.median(passes.map(_.map(_._2.jobs).sum.toDouble)), "count")
    val tasks = passes.lastOption.toSeq.flatten.flatMap(_._2.taskMs).map(_.toDouble)
    m.put("suite.task_skew", Stats.ratio(tasks.maxOption.getOrElse(0.0), Stats.median(tasks)), "ratio")
  }
}
