package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the program.
  * `module` names the layer the benchmark called into; jobs whose call
  * site shows no program frame are attributed to it. `op` is the id of
  * the root span (the timed operation) the span belongs to. */
final case class Span(id: Int, name: String, module: String, start: Long,
                      end: Long, parent: Int, op: Int)

/** The traced run's instruments, all outside the program: a
  * `SparkListener` (jobs, tasks, stage submission), a
  * `QueryExecutionListener` (planning phases, per-operator SQL metrics of
  * the executed plans) and the benchmark's own spans. Each Spark job is
  * mapped to a module of the program from its call site (the innermost
  * `graft.*` frame that belongs to a named module); jobs without one take
  * the module of their SQL execution, else of the innermost enclosing
  * span. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private final class Job(val id: Int, val start: Long, val module: Option[String],
                          val exec: Option[Long], val site: String) {
    var end: Long = -1L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var schedDelayMs = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val execModule = mutable.Map.empty[Long, String]

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Ids of the open spans, innermost first. */
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  var planMs = 0.0
  /** (root paths, rows, files) of every file scan in an executed plan. */
  val scans: mutable.ArrayBuffer[(Seq[String], Long, Long)] = mutable.ArrayBuffer.empty
  var lshCandidates = 0L
  var lshConfirmed = 0L

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Runs `body` inside a span; spans nest by call order on the driver
    * thread. The listener bus is drained when a root span closes, so every
    * job of the operation is recorded before the next one starts. */
  def span[T](name: String, module: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.currentTimeMillis()
    open.push(id)
    try body
    finally {
      open.pop()
      if (open.isEmpty && attached) drain()
      val parent = open.headOption.getOrElse(-1)
      val root = open.lastOption.getOrElse(id)
      spans += Span(id, name, module, t0, System.currentTimeMillis(), parent, root)
    }
  }

  // ---- SparkListener -------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val module = moduleOfCallSite(result.details)
    for (m <- module; x <- exec) execModule.getOrElseUpdate(x, m)
    jobs(e.jobId) = new Job(e.jobId, e.time, module, exec, result.name)
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  /** A SQL execution's call site is taken on the thread that started it;
    * its jobs may run on adaptive-execution threads whose own call sites
    * show no program frame. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      moduleOfCallSite(x.details).foreach(m => execModule.getOrElseUpdate(x.executionId, m))
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmit.get(e.stageId).foreach { t =>
        j.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // ---- QueryExecutionListener ----------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases
      .collect { case (p, s) if PlanPhases(p) => s.durationMs.toDouble }.sum
    val plan = nodes(qe.executedPlan)
    plan.foreach {
      case f: FileSourceScanExec =>
        scans += ((f.relation.location.rootPaths.map(_.toString),
          metric(f, "numOutputRows"), metric(f, "numFiles")))
      // the near-duplicate verification: a filter or join whose condition
      // computes the exact Jaccard; its input rows (the streamed side of a
      // join) are the LSH candidates, its output the confirmed pairs
      case n if n.expressions.exists(_.exists(isJaccard)) =>
        lshConfirmed += metric(n, "numOutputRows")
        lshCandidates += n.children.find(!_.nodeName.startsWith("Broadcast"))
          .map(firstRows).getOrElse(0L)
      case _ =>
    }
  }

  // ---- attribution ---------------------------------------------------

  /** Per-module totals over the root spans (the traced operations). Job
    * time is split over the modules of the jobs active at each instant, so
    * the modules' job time adds up to the union of job intervals, and that
    * plus `gapS` adds up to the spans' wall time. */
  def attribute(): Attribution = synchronized {
    val roots = spans.filter(_.parent < 0).toSeq
    val per = mutable.Map.empty[String, ModuleTotals].withDefault(_ => ModuleTotals())
    var gapMs = 0.0
    var wallMs = 0.0
    var schedMs = 0L
    val jobsOfRoot = mutable.Map.empty[Int, Int]
    roots.foreach { r =>
      val js = jobs.values.filter(j => j.start >= r.start && j.start <= r.end).toSeq
      jobsOfRoot(r.id) = js.size
      js.foreach { j =>
        val m = moduleOf(j, r)
        val t = per(m)
        per(m) = t.copy(jobs = t.jobs + 1, tasks = t.tasks + j.tasks,
          taskS = t.taskS + j.runMs / 1000.0,
          shuffleMb = t.shuffleMb + j.shuffleBytes / 1e6,
          spillMb = t.spillMb + j.spillBytes / 1e6,
          failedTasks = t.failedTasks + j.failedTasks)
        schedMs += j.schedDelayMs
      }
      // sweep over the clipped job intervals
      val iv = js.map { j =>
        val e = if (j.end < 0) r.end else j.end
        (math.max(j.start, r.start), math.min(math.max(e, j.start), r.end), moduleOf(j, r))
      }
      val cuts = (iv.flatMap(i => Seq(i._1, i._2)) ++ Seq(r.start, r.end)).distinct.sorted
      var busy = 0.0
      cuts.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        val active = iv.filter(i => i._1 <= a && i._2 >= b && i._2 > i._1)
        if (active.nonEmpty) {
          val share = (b - a).toDouble / active.size
          active.foreach { i =>
            val t = per(i._3)
            per(i._3) = t.copy(jobS = t.jobS + share / 1000.0)
          }
          busy += b - a
        }
      }
      wallMs += r.end - r.start
      gapMs += (r.end - r.start) - busy
    }
    Attribution(per.toMap, gapMs / 1000.0, wallMs / 1000.0, schedMs / 1000.0,
      roots.size, jobsOfRoot.toMap)
  }

  private def moduleOf(j: Job, root: Span): String =
    j.module
      .orElse(j.exec.flatMap(execModule.get))
      .orElse(spans.filter(s => s.op == root.id && s.start <= j.start && s.end >= j.start)
        .sortBy(s => s.end - s.start).headOption.map(_.module))
      .getOrElse("other")

  /** Writes the spans and the jobs with their modules, one JSON object a
    * line, into `dir`. */
  def write(dir: String): Unit = synchronized {
    Files.write(s"$dir/jobs.jsonl", jobs.values.map { j =>
      Json.obj(Seq("job" -> j.id.toString, "start_ms" -> j.start.toString,
        "end_ms" -> j.end.toString, "module" -> Json.str(j.module.getOrElse("")),
        "exec" -> j.exec.map(_.toString).getOrElse("null"), "tasks" -> j.tasks.toString,
        "task_ms" -> j.runMs.toString, "call_site" -> Json.str(j.site)))
    }.mkString("", "\n", "\n"))
    Files.write(s"$dir/spans.jsonl", spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "module" -> Json.str(s.module), "start_ms" -> s.start.toString,
        "end_ms" -> s.end.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString))
    }.mkString("", "\n", "\n"))
  }
}

final case class ModuleTotals(jobs: Long = 0, tasks: Long = 0, jobS: Double = 0,
                              taskS: Double = 0, shuffleMb: Double = 0,
                              spillMb: Double = 0, failedTasks: Long = 0)

final case class Attribution(modules: Map[String, ModuleTotals], gapS: Double,
                             wallS: Double, schedDelayS: Double, ops: Int,
                             jobsPerOp: Map[Int, Int])

object Trace {
  /** The layers the per-layer metrics are reported for; `other` holds
    * jobs no module claims. */
  val Modules: Seq[String] = Seq("pipeline", "ops", "incremental", "io.Sources",
    "io.Sinks", "io.Snapshots", "io.ChangeFeed", "io.ViewMaintenance", "sql",
    "streaming", "ext", "other")

  private val NamedIo = Set("Sources", "Sinks", "Snapshots", "ChangeFeed", "ViewMaintenance")
  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** Module of a `graft.*` class name. The table-format helpers of
    * `graft.io` (constraints, column stats, layout, branches, WAP) serve
    * snapshot commits and count as `io.Snapshots`; `graft.functions`
    * expressions count as `ext`, their only caller in the workloads.
    * Classes outside the named modules (util, schema, queries) give no
    * module, so the next frame outward decides. */
  def moduleOfClass(cls: String): Option[String] = cls.split('.').toList match {
    case "graft" :: "io" :: name :: _ =>
      val base = name.takeWhile(_ != '$')
      Some(if (NamedIo(base)) s"io.$base" else "io.Snapshots")
    case "graft" :: pkg :: _ :: _ => pkg match {
      case "pipeline" | "ops" | "incremental" | "sql" | "streaming" | "ext" => Some(pkg)
      case "functions" => Some("ext")
      case _ => None
    }
    case _ => None
  }

  /** Module of a job from its long call site (one stack frame per line,
    * innermost first). */
  def moduleOfCallSite(longForm: String): Option[String] =
    Option(longForm).toSeq.flatMap(_.split('\n')).iterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .flatMap { f =>
        val q = f.takeWhile(_ != '(')
        moduleOfClass(q.substring(0, math.max(0, q.lastIndexOf('.'))))
      }
      .nextOption()

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def firstRows(p: SparkPlan): Long =
    nodes(p).find(_.metrics.contains("numOutputRows"))
      .map(metric(_, "numOutputRows")).getOrElse(0L)

  private def isJaccard(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.nodeName.toLowerCase.contains("jaccard")
}
