package perfbench

import SpanTracer.{OpStats, StageRec}

/** Per-layer rollup of a traced run. Sums are taken over the warm ops
  * and divided by the number of warm rounds, so each figure is "per warm
  * round" and comparable with `job_s`; the cold round is reported
  * beside it. */
object Layers {
  private def mb(b: Double) = b / 1e6

  def rollup(ctx: Ctx, t: SpanTracer): (Map[String, Any], Map[String, Any]) = {
    val all = t.perOp()
    val warm = all.filter(o => ctx.isWarm(o.op.round) && okOp(ctx, o))
    val rounds = math.max(1, ctx.warmRounds).toDouble
    def per(f: OpStats => Double): Double = warm.map(f).sum / rounds
    def stg(f: StageRec => Double)(o: OpStats): Double = o.stages.map(f).sum
    val busyS = warm.map(stg(_.runMs / 1e3)).sum
    val wallS = warm.map(_.op.wallS).sum
    val multi = warm.flatMap(_.stages).filter(_.tasks.n >= 2)
    val straggler =
      if (multi.isEmpty) 1.0
      else multi.map(_.tasks.maxMs.toDouble).sum /
        multi.map(s => s.tasks.sumMs.toDouble / s.tasks.n).sum
    val pinnedRdds = ctx.pinned.lastOption.map(_._1.toDouble).getOrElse(0.0)
    val pinnedMb = ctx.pinned.lastOption.map(_._2).getOrElse(0.0)
    val warmPinned = ctx.pinned.drop(1)
    val growth =
      if (warmPinned.size < 2) 0.0 else warmPinned.last._2 - warmPinned.head._2

    import Stats.metric
    val layers = Map[String, Any](
      "plan_build_s" -> metric(per(_.planS), "s"),
      "plan_build_jobs" -> metric(per(_.planJobs.toDouble), "count"),
      "exec_s" -> metric(per(_.execS), "s"),
      "catalyst_analysis_s" -> metric(per(_.catalyst.map(_.analysisMs).sum / 1e3), "s"),
      "catalyst_optimization_s" ->
        metric(per(_.catalyst.map(_.optimizationMs).sum / 1e3), "s"),
      "catalyst_planning_s" -> metric(per(_.catalyst.map(_.planningMs).sum / 1e3), "s"),
      "jobs" -> metric(per(_.jobs.toDouble), "count"),
      "stages" -> metric(per(_.stages.size.toDouble), "count"),
      "tasks" -> metric(per(stg(_.numTasks.toDouble)), "count"),
      "task_busy_s" -> metric(per(stg(_.runMs / 1e3)), "s"),
      "task_cpu_s" -> metric(per(stg(_.cpuNs / 1e9)), "s"),
      "gc_s" -> metric(per(stg(_.gcMs / 1e3)), "s"),
      "shuffle_write_mb" -> metric(per(stg(s => mb(s.shuffleWrite))), "MB"),
      "shuffle_read_mb" -> metric(per(stg(s => mb(s.shuffleRead))), "MB"),
      "spill_mb" -> metric(per(stg(s => mb(s.spill))), "MB"),
      "input_mb" -> metric(per(stg(s => mb(s.input))), "MB"),
      "core_idle_frac" -> metric(1.0 - busyS / (ctx.cores * wallS), "fraction"),
      "straggler_ratio" -> metric(straggler, "ratio"),
      "memo_builds_cold" ->
        metric(ctx.roundBuilds.headOption.getOrElse(0L).toDouble, "count"),
      "memo_builds_warm" -> metric(ctx.roundBuilds.drop(1).sum.toDouble, "count"),
      "pinned_rdds" -> metric(pinnedRdds, "count"),
      "pinned_mb" -> metric(pinnedMb, "MB"),
      "pinned_growth_mb" -> metric(growth, "MB"))

    val cold = all.filter(_.op.round == 0)
    val byLayer = warm.groupBy(_.op.layer).toSeq.sortBy(_._1).flatMap {
      case (l, os) => Seq(
        s"plan_build_s.$l" -> metric(os.map(_.planS).sum / rounds, "s"),
        s"exec_s.$l" -> metric(os.map(_.execS).sum / rounds, "s"))
    }
    val coverage = all.filter(_.op.wallS > 0)
      .map(o => (o.planS + o.execS) / o.op.wallS)
    val detail = Map[String, Any](
      "cold_plan_build_s" -> metric(cold.map(_.planS).sum, "s"),
      "cold_exec_s" -> metric(cold.map(_.execS).sum, "s"),
      "plan_exec_coverage_min" -> metric(if (coverage.isEmpty) 0.0 else coverage.min, "fraction"),
      "plan_exec_coverage_median" -> metric(Stats.median(coverage), "fraction"),
      "pinned_per_round" -> ctx.pinned.map { case (n, m) =>
        Map("rdds" -> n, "mb" -> m) }) ++ byLayer ++ lake(all, warm, rounds)
    (layers, detail)
  }

  private def okOp(ctx: Ctx, o: OpStats): Boolean =
    ctx.samples.lift(o.op.id).forall(_.ok)

  /** SnapshotLake and IngestJob figures; empty when no lake op ran. */
  private def lake(all: Seq[OpStats], warm: Seq[OpStats],
                   rounds: Double): Map[String, Any] = {
    import Stats.metric
    val byKind = warm.groupBy(_.op.name)
    def out(os: Seq[OpStats]) = os.flatMap(_.stages).map(_.output.toDouble).sum
    def in(os: Seq[OpStats]) = os.flatMap(_.stages).map(_.input.toDouble).sum
    val commits = warm.filter(o => LakeWorkload.CommitKinds(o.op.name))
    if (commits.isEmpty) return Map.empty
    val kindTimes = byKind.toSeq.sortBy(_._1).collect {
      case (k, os) if LakeWorkload.CommitKinds(k) =>
        s"commit_s.$k" -> metric(Stats.median(os.map(_.op.wallS)), "s", os.size)
      case (k, os) if k.startsWith("read_") =>
        s"read_s.${k.stripPrefix("read_")}" ->
          metric(Stats.median(os.map(_.op.wallS)), "s", os.size)
    }
    val appends = byKind.getOrElse("append", Seq.empty)
    val appendBytes = out(appends)
    // user bytes: rows the append and merge batches carried, priced at
    // the appended files' bytes per row
    val userRows = appends.size * LakeWorkload.AppendRows +
      byKind.getOrElse("merge", Seq.empty).size *
        (LakeWorkload.MergeUpdates + LakeWorkload.MergeInserts)
    val userBytes =
      if (appends.isEmpty) Double.NaN
      else appendBytes / (appends.size * LakeWorkload.AppendRows) * userRows
    def meanIn(k: String) = {
      val os = byKind.getOrElse(k, Seq.empty)
      if (os.isEmpty) Double.NaN else in(os) / os.size
    }
    val ingestStats = ingest(all)
    kindTimes.toMap ++ ingestStats ++ Map(
      "data_mb_written" -> metric(mb(out(commits)) / rounds, "MB"),
      "write_amp" -> metric(out(commits) / userBytes, "ratio"),
      "range_read_frac" -> metric(meanIn("read_range") / meanIn("read_full"),
        "fraction"))
  }

  /** IngestJob runs once, in the cold cycle: its bytes per run. */
  private def ingest(all: Seq[OpStats]): Map[String, Any] = {
    val ingests = all.filter(_.op.name == "ingest")
    def mean(f: StageRec => Double) =
      ingests.flatMap(_.stages).map(f).sum / ingests.size
    if (ingests.isEmpty) Map.empty
    else Map(
      "ingest_input_mb" -> Stats.metric(mb(mean(_.input.toDouble)), "MB"),
      "ingest_shuffle_write_mb" ->
        Stats.metric(mb(mean(_.shuffleWrite.toDouble)), "MB"))
  }
}
