package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Everything a workload needs during a run. Operations are timed with
  * [[op]]; in the traced run every other operation of a class is traced,
  * the rest run untraced so the run can state its own overhead. */
final class Ctx(val in: String, val work: String, val seed: Long, val seconds: Int,
                val tiny: Boolean, val plantWrong: Boolean, val traceOn: Boolean,
                val cores: Int) {
  var spark: SparkSession = _
  val rec = new Recorder
  var trace: Option[Trace] = None
  private var tracing = false
  private var deadline = Long.MaxValue
  /** Every operation of the traced run: (class, index in class, ms, traced). */
  val opLog: scala.collection.mutable.ArrayBuffer[(Samples, Int, Double, Boolean)] =
    scala.collection.mutable.ArrayBuffer.empty
  /** Extra per-layer values a workload measures itself. */
  val layer: scala.collection.mutable.Map[String, Double] =
    scala.collection.mutable.Map.empty.withDefaultValue(0.0)
  /** Extra outputs for the checks the launcher makes after the run. */
  val outputs: scala.collection.mutable.ArrayBuffer[(String, String)] =
    scala.collection.mutable.ArrayBuffer.empty

  def startClock(): Unit = deadline = System.nanoTime() + seconds * 1000000000L
  def timeLeft: Boolean = System.nanoTime() < deadline
  def isTracing: Boolean = tracing
  def isTraceRun: Boolean = trace.isDefined

  /** One timed operation of class `cls`. Returns None when it threw; the
    * failure is counted and the run goes on. In the traced run the bulk
    * operation and every odd-numbered operation of the other classes are
    * traced; the first of each class runs cold and untraced. */
  def op[T](cls: Samples, name: String, module: String)(body: => T): Option[T] = {
    rec.attempted += 1
    val index = cls.n
    val traced = trace.isDefined && ((cls eq rec.bulk) || index % 2 == 1)
    if (traced) { trace.get.attach(); tracing = true }
    val t0 = System.nanoTime()
    val out =
      try Some(span(name, module)(body))
      catch { case NonFatal(e) => rec.fail(s"$name threw ${e.toString.take(300)}"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) { tracing = false; trace.get.detach() }
    if (out.isDefined) {
      cls.add(ms)
      if (trace.isDefined) opLog += ((cls, index, ms, traced))
    }
    out
  }

  /** Tracing overhead in percent: the median, over pairs of a traced
    * operation and the untraced one that follows it in the same class, of
    * traced ÷ untraced − 1. 0 when no pair exists. */
  def overheadPct: Double = {
    val ratios = opLog.groupBy(_._1).values.flatMap { ops =>
      val byIndex = ops.map(o => o._2 -> o).toMap
      ops.filter(o => o._4 && !(o._1 eq rec.bulk)).flatMap { t =>
        byIndex.get(t._2 + 1).filter(!_._4).map(u => t._3 / u._3 - 1)
      }
    }.toSeq
    if (ratios.isEmpty) 0.0 else Samples.median(ratios) * 100
  }

  /** A span around a call into one layer; recorded only while tracing. */
  private def span[T](name: String, module: String)(body: => T): T =
    if (tracing) trace.get.span(name, module)(body) else body
}

trait Workload {
  /** Derives program inputs from the generated files, and warms up where
    * a workload does; not timed. */
  def prepare(ctx: Ctx): Unit = ()
  /** Builds, in `dir`, the state the timed operations start from. */
  def setup(ctx: Ctx, dir: String): Unit
  /** The closed loop of timed operations, from the state in `dir`. */
  def run(ctx: Ctx, dir: String): Unit
}

/** Runs one workload and writes `result.json` into the work directory.
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seed> <seconds>
  *                  <trace 0|1> <size full|tiny> <plant 0|1> <cores>
  */
object Main {
  /** Set-ups per run (full size); the tiny size of the self-test makes two. */
  val SetupReps = 5

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions,graft.ext.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Workloads: Map[String, Workload] = Map("taxi_etl" -> TaxiEtl,
    "sql_lakehouse" -> SqlLakehouse, "incremental_view" -> IncrementalView,
    "corpus_curation" -> CorpusCuration)

  def main(args: Array[String]): Unit = {
    val Array(name, in, work, seed, seconds, traceArg, size, plant, cores) = args
    val ctx = new Ctx(in, work, seed.toLong, seconds.toInt, size == "tiny",
      plant == "1", traceArg == "1", cores.toInt)
    val w = Workloads.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))
    val launched = System.nanoTime()
    var prepared = 0.0
    // set-up: launch (session start) to the first timed operation, made
    // setupReps times in fresh directories; the median is reported
    val setupReps = if (ctx.tiny) 2 else SetupReps
    val setups = (0 until setupReps).map { rep =>
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = session(ctx)
      if (rep == 0) {
        val p0 = System.nanoTime()
        w.prepare(ctx)
        val prepNs = System.nanoTime() - p0
        prepared = prepNs / 1e9
        w.setup(ctx, s"$work/state$rep")
        (System.nanoTime() - t0 - prepNs) / 1e9
      } else {
        w.setup(ctx, s"$work/state$rep")
        (System.nanoTime() - t0) / 1e9
      }
    }
    val dir = s"$work/state${setupReps - 1}"
    (0 until setupReps - 1).foreach(r => Files.deleteTree(s"$work/state$r"))
    if (ctx.traceOn) ctx.trace = Some(new Trace(ctx.spark))
    val started = System.nanoTime()
    ctx.startClock()
    try w.run(ctx, dir)
    catch { case NonFatal(e) => ctx.rec.fail(s"run aborted: ${e.toString.take(300)}") }
    val rec = ctx.rec
    val ran = System.nanoTime()
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.traceOn) Seq(
        ("setup_s", Samples.median(setups), "s"),
        ("bulk_s", rec.bulk.median / 1000.0, "s"),
        ("op_p50_ms", rec.write.median, "ms"),
        ("read_p50_ms", rec.read.median, "ms"),
        ("items_per_s", rec.items / math.max(1e-9, rec.write.ms.sum / 1000.0), "1/s"),
        ("space_amp", Samples.median(rec.spaceAmp.toSeq), "ratio"),
        ("peak_rss_mb", Files.peakRssMb, "MB"))
      else Layers.metrics(ctx)
    ctx.trace.foreach(_.write(work))
    Files.write(s"$work/result.json", Json.obj(Seq(
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "samples" -> Json.obj(Seq("bulk" -> rec.bulk.n.toString,
        "write" -> rec.write.n.toString, "read" -> rec.read.n.toString,
        "setup" -> setups.size.toString)),
      "series_ms" -> Json.obj(Seq("bulk" -> rec.bulk, "write" -> rec.write, "read" -> rec.read)
        .map { case (k, v) => k -> Json.arr(v.ms.toSeq.map(x => Json.num(math.rint(x)))) }),
      "phases" -> Json.obj(Seq("prepare" -> Json.num(prepared),
        "setup" -> Json.num(setups.sum),
        "launch_to_loop" -> Json.num((started - launched) / 1e9),
        "loop" -> Json.num((ran - started) / 1e9))),
      "notes" -> Json.arr(rec.notes.toSeq.map(Json.str)),
      "outputs" -> Json.obj(ctx.outputs.toSeq.map { case (k, v) => k -> v }),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    ctx.spark.stop()
  }
}
