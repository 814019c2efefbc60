package perfbench

import perfbench.Tracer.QueryTrace

/** Per-layer figures of a traced pass (summed over its query calls),
  * and their median over the run's traced passes. */
object Layers {

  private val MB = 1e6

  def pass(qs: Seq[QueryTrace], cores: Int): Seq[(String, Double, String)] = {
    val build = qs.flatMap(_.buildJobs)
    val exec = qs.flatMap(_.execJobs)
    val buildStages = build.flatMap(_.stages)
    val execStages = exec.flatMap(_.stages)
    val attributed = build.count(_.module.isDefined)
    val execS = qs.map(_.execMs).sum / 1000.0
    val execTaskS = execStages.map(_.runMs).sum / 1000.0
    val longest = execStages.sortBy(s => (s.endMs - s.startMs, s.id)).lastOption
    val skew = longest.filter(_.taskMs.nonEmpty).fold(1.0) { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else s.taskMs.max / med
    }
    val batches = qs.flatMap(_.batches)
    val trigger = batches.map(_.triggerMs.toDouble)
    val plans = qs.flatMap(_.plans)

    Seq(
      ("build.s", qs.map(_.buildMs).sum / 1000.0, "s"),
      ("build.jobs", build.size.toDouble, "count"),
      ("build.task_s", buildStages.map(_.runMs).sum / 1000.0, "s"),
      ("build.shuffle_write_mb", buildStages.map(_.shuffleWrite).sum / MB, "MB"),
      ("build.spill_mb", buildStages.map(_.spill).sum / MB, "MB"),
      ("build.attributed_frac", if (build.isEmpty) 1.0 else attributed.toDouble / build.size, "ratio"),
      ("build.jobs.unattributed", (build.size - attributed).toDouble, "count")) ++
      Callsite.Modules.flatMap { m =>
        val js = build.filter(_.module.contains(m))
        Seq((s"build.jobs.$m", js.size.toDouble, "count"), (s"build.s.$m", js.map(_.wallMs).sum / 1000.0, "s"))
      } ++ Seq(
      ("plan.analysis_ms", plans.map(_.analysisMs).sum.toDouble, "ms"),
      ("plan.optimization_ms", plans.map(_.optimizationMs).sum.toDouble, "ms"),
      ("plan.planning_ms", plans.map(_.planningMs).sum.toDouble, "ms"),
      ("plan.actions", plans.size.toDouble, "count"),
      ("exec.s", execS, "s"),
      ("exec.jobs", exec.size.toDouble, "count"),
      ("exec.stages", execStages.size.toDouble, "count"),
      ("exec.stages_skipped", exec.map(_.skipped).sum.toDouble, "count"),
      ("exec.tasks", execStages.map(_.taskMs.size).sum.toDouble, "count"),
      ("exec.task_s", execTaskS, "s"),
      ("exec.util", if (execS <= 0) 0.0 else execTaskS / (execS * cores), "ratio"),
      ("exec.shuffle_read_mb", execStages.map(_.shuffleRead).sum / MB, "MB"),
      ("exec.shuffle_write_mb", execStages.map(_.shuffleWrite).sum / MB, "MB"),
      ("exec.spill_mb", execStages.map(_.spill).sum / MB, "MB"),
      ("exec.input_mb", execStages.map(_.input).sum / MB, "MB"),
      ("exec.output_mb", execStages.map(_.output).sum / MB, "MB"),
      ("exec.gc_s", execStages.map(_.gcMs).sum / 1000.0, "s"),
      ("exec.task_skew", skew, "ratio"),
      ("exec.failed_tasks", execStages.map(_.failedTasks).sum.toDouble, "count"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.add_batch_ms", batches.map(_.addBatchMs).sum.toDouble, "ms"),
      ("streaming.wal_commit_ms", batches.map(_.walCommitMs).sum.toDouble, "ms"),
      ("streaming.commit_offsets_ms", batches.map(_.commitOffsetsMs).sum.toDouble, "ms"),
      ("streaming.query_planning_ms", batches.map(_.queryPlanningMs).sum.toDouble, "ms"),
      ("streaming.state_rows", batches.map(_.stateRows).sum.toDouble, "count"),
      ("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum.toDouble, "ms"),
      ("streaming.microbatch_p50_ms", if (trigger.isEmpty) 0.0 else Stats.median(trigger), "ms"),
      ("streaming.microbatch_p90_ms", if (trigger.isEmpty) 0.0 else Stats.tail(trigger), "ms"),
      ("trace.coverage", if (qs.isEmpty) 1.0 else qs.map(_.coverage).min, "ratio"))
  }

  /** Median over passes of each per-pass figure. */
  def perPass(passes: Seq[Seq[QueryTrace]], cores: Int): Seq[(String, Double, String)] = {
    require(passes.nonEmpty, "no traced pass")
    val per = passes.map(pass(_, cores))
    per.head.indices.map { i =>
      val (k, _, u) = per.head(i)
      (k, Stats.median(per.map(_(i)._2)), u)
    }
  }
}
