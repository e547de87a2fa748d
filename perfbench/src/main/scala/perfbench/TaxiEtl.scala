package perfbench

import java.nio.file.{Paths, Files => JFiles}
import graft.pipeline.TaxiJob
import graft.queries.TaxiE2E

/** `taxi_etl`: the reference's whole program. Monthly
  * `yellow_tripdata_YYYY-MM.parquet` files are generated from seeded events
  * with the q26 fixture rules (nulls, inverted timestamps, passenger
  * counts out of range, component-sum mismatches) plus the generator's
  * traps (exact-duplicate rows, rows from the wrong month, one
  * schema-drifted file). The job is not warmed up before timing: a warm-up
  * run costs more than the budget of a run allows, so the bulk operation is
  * its first run in the process. The bulk operation catches up on a backlog of
  * several files; each write operation lands one new month and runs
  * `TaxiJob.run`; each read operation is a dashboard read of a latest
  * metric table. Every run's `vendor_performance` is checked afterwards
  * against the q26 oracle over that run's input rows. */
object TaxiEtl extends Workload {

  final case class Month(role: String, ym: String, rows: Long)

  /** Drops made even when the time is up, so every metric has samples. */
  val MinDrops = 2
  /** Timed reads of each latest table after each drop. */
  val ReadsPerTable = 2
  /** The latest metric tables a dashboard reads after each drop. */
  val ReadTables = Seq("vendor_performance", "payment_analysis",
    "pickup_location_analysis", "hourly_demand")

  private def months(ctx: Ctx): Seq[Month] =
    Files.read(s"${ctx.in}/taxi/months.txt").split('\n').toSeq.filter(_.nonEmpty).map { l =>
      val Array(role, ym, rows) = l.split(' ')
      Month(role, ym, rows.toLong)
    }

  private def pool(ctx: Ctx) = s"${ctx.work}/pool"
  private def fileName(ym: String) = s"yellow_tripdata_$ym.parquet"

  /** Copies the generated trip files into the pool the drops take them
    * from, and writes the q26 oracle for the checks. */
  override def prepare(ctx: Ctx): Unit = {
    JFiles.createDirectories(Paths.get(pool(ctx)))
    months(ctx).foreach { m =>
      JFiles.copy(Paths.get(s"${ctx.in}/taxi/trips/${fileName(m.ym)}"),
        Paths.get(s"${pool(ctx)}/${fileName(m.ym)}"))
    }
    JFiles.write(Paths.get(s"${ctx.work}/q26_oracle.sql"),
      TaxiE2E.spec.oracle.get.getBytes("UTF-8"))
  }

  /** Moves a month's file into the raw directory with a fresh mtime, as
    * an upload would. */
  private def land(ctx: Ctx, raw: String, ym: String): Unit = {
    JFiles.createDirectories(Paths.get(raw))
    val dst = Paths.get(s"$raw/${fileName(ym)}")
    JFiles.move(Paths.get(s"${pool(ctx)}/${fileName(ym)}"), dst)
    dst.toFile.setLastModified(System.currentTimeMillis())
  }

  /** The job keeps no state before its first file, so set-up is the
    * session launch and one discovery pass over the empty landing
    * directory. */
  def setup(ctx: Ctx, dir: String): Unit = {
    JFiles.createDirectories(Paths.get(s"$dir/raw"))
    val r = TaxiJob.run(ctx.spark, s"$dir/raw", s"$dir/state", s"$dir/out")
    require(r.status == "no_new_files", s"set-up run: ${r.status}")
  }

  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val raw = s"$dir/raw"
    val out = s"$dir/out"
    val ms = months(ctx)
    val rowsOf = ms.map(m => m.ym -> m.rows).toMap
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    var clock = 1000L
    var scanRows = 0L

    def job(cls: Samples, name: String): Option[TaxiJob.JobResult] = {
      clock += 1
      val c = clock
      val r = ctx.op(cls, name, "pipeline") {
        val res = TaxiJob.run(spark, raw, s"$dir/state", out, maxFiles = 10, clock = () => c)
        if (ctx.isTracing)
          scanRows += res.filesProcessed.map(p => rowsOf(ymOf(p))).sum
        res
      }
      r.foreach { res =>
        ctx.rec.check(res.status == "success", s"$name status ${res.status}")
        runs += Json.obj(Seq("pid" -> Json.str(res.processingId),
          "vendor_csv" -> Json.str(metricDir(out, res, "vendor_performance")),
          "months" -> Json.arr(res.filesProcessed.map(ymOf).sorted.map(Json.str))))
      }
      r
    }

    val backlog = ms.filter(m => m.role == "backlog" || m.role == "drifted")
    backlog.foreach(m => land(ctx, raw, m.ym))
    job(ctx.rec.bulk, "taxi.backfill").foreach { r =>
      ctx.rec.check(r.filesProcessed.size == backlog.size,
        s"backfill took ${r.filesProcessed.size} of ${backlog.size} files")
      if (ctx.plantWrong) {
        // a wrong row in the first run's vendor table: the oracle must see it
        Files.write(s"${metricDir(out, r, "vendor_performance")}/part-planted.csv",
          "VendorID,trip_count,total_revenue,median_revenue,median_distance\n9,1,1.0,1.0,1.0\n")
      }
    }

    val drops = ms.filter(_.role == "drop").iterator
    var n = 0
    while ((ctx.timeLeft || n < MinDrops) && drops.hasNext) {
      val m = drops.next()
      land(ctx, raw, m.ym)
      job(ctx.rec.write, "taxi.drop").foreach { r =>
        ctx.rec.items += r.rowCounts.getOrElse("rows_validated", 0L)
        n += 1
        ReadTables.foreach { t =>
          val latest = s"$out/processed/metrics/latest/$t.csv"
          val want = spark.read.option("header", "true").csv(metricDir(out, r, t))
            .collect().map(_.toString).sorted
          (0 until ReadsPerTable).foreach { _ =>
            ctx.op(ctx.rec.read, s"taxi.read.$t", "io.Sinks") {
              spark.read.option("header", "true").csv(latest).collect()
            }.foreach { got =>
              ctx.rec.check(got.map(_.toString).sorted.sameElements(want),
                s"latest $t differs from run ${r.processingId}")
            }
          }
        }
        if (n == MinDrops) ctx.rec.spaceAmp += spaceAmp(ctx, dir)
      }
    }
    if (n < MinDrops) ctx.rec.spaceAmp += spaceAmp(ctx, dir)
    if (ctx.isTraceRun) {
      val scanned = ctx.trace.get.scans
        .filter(_._1.exists(_.contains("/raw/yellow_tripdata_"))).map(_._2).sum
      ctx.layer("taxi.scan_amp") = if (scanRows == 0) 0.0 else scanned.toDouble / scanRows
    }
    ctx.outputs += "taxi_runs" -> Json.arr(runs.toSeq)
    ctx.outputs += "events_dir" -> Json.str(s"${ctx.in}/taxi/events")
  }

  /** The versioned metric table one run wrote. */
  private def metricDir(out: String, r: TaxiJob.JobResult, table: String): String = {
    val yms = r.filesProcessed.map(ymOf).sorted
    s"$out/processed/metrics/date=${yms.head}_${yms.last}/${r.processingId}_$table.csv"
  }

  private def ymOf(path: String): String =
    """yellow_tripdata_(\d{4}-\d{2})\.parquet""".r.findFirstMatchIn(path).get.group(1)

  /** Bytes under the output tree ÷ (the processed trips as one file + the
    * latest metric tables). */
  private def spaceAmp(ctx: Ctx, dir: String): Double = {
    val processed = s"$dir/out/processed"
    val compact = s"$dir/compact"
    ctx.spark.read.parquet(s"$processed/taxi/[0-9]*").coalesce(1)
      .write.mode("overwrite").parquet(compact)
    val c = Files.bytesUnder(compact) + Files.bytesUnder(s"$processed/metrics/latest")
    Files.deleteTree(compact)
    Files.bytesUnder(processed).toDouble / c
  }
}
