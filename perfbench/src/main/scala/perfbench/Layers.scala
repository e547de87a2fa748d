package perfbench

/** The per-layer metrics of a traced run. Counts, times and bytes are per
  * traced operation (bulk, write and read operations alike), so runs that
  * complete different numbers of operations stay comparable; metrics of a
  * layer a workload does not run read 0. */
object Layers {

  val Extra: Seq[(String, String)] = Seq(
    "driver.plan_ms" -> "ms", "driver.gap_s" -> "s", "exec.sched_delay_s" -> "s",
    "taxi.scan_amp" -> "ratio", "snapshots.files_per_commit" -> "count",
    "sql.files_read_ratio" -> "ratio", "streaming.jobs_per_drain" -> "count",
    "streaming.ckpt_files_per_drain" -> "count", "ext.lsh_precision" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.ops" -> "count")

  val PerModule: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "job_s" -> "s", "task_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "failed_tasks" -> "count")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Trace.Modules.flatMap(m => PerModule.map { case (k, u) => s"$m.$k" -> u }) ++ Extra

  def metrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val tr = ctx.trace.get
    val a = tr.attribute()
    val ops = math.max(1, a.ops).toDouble
    // the attribution must account for every millisecond of the spans
    val attributed = a.modules.values.map(_.jobS).sum + a.gapS
    ctx.rec.check(math.abs(attributed - a.wallS) < 1e-6 * (1 + a.wallS),
      f"trace attribution $attributed%.6f s != span wall ${a.wallS}%.6f s")
    val perModule = Trace.Modules.flatMap { m =>
      val t = a.modules.getOrElse(m, ModuleTotals())
      Seq(t.jobs.toDouble, t.tasks.toDouble, t.jobS, t.taskS, t.shuffleMb,
        t.spillMb, t.failedTasks.toDouble).map(_ / ops)
    }
    val drains = tr.spans.filter(s => s.parent < 0 && s.name == "ivm.drain").map(_.id)
    val extra = Map(
      "driver.plan_ms" -> tr.planMs / ops,
      "driver.gap_s" -> a.gapS / ops,
      "exec.sched_delay_s" -> a.schedDelayS / ops,
      "streaming.jobs_per_drain" ->
        (if (drains.isEmpty) 0.0 else drains.map(a.jobsPerOp.getOrElse(_, 0)).sum.toDouble / drains.size),
      "ext.lsh_precision" ->
        (if (tr.lshCandidates == 0) 0.0 else tr.lshConfirmed.toDouble / tr.lshCandidates),
      "trace.overhead_pct" -> ctx.overheadPct,
      "trace.ops" -> a.ops.toDouble) ++ ctx.layer
    names.zip(perModule ++ Extra.map { case (k, _) => extra.getOrElse(k, 0.0) })
      .map { case ((k, u), v) => (k, v, u) }
  }
}
