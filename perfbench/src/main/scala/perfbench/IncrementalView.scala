package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.{Snapshots, ViewMaintenance}
import graft.streaming.ViewGate

/** `incremental_view`: a curated document table with a per-source
  * (count, sum of characters) view kept current under CDC. The bulk
  * operation ingests a seeded document backlog: the x166-shaped curation
  * chain of `corpus_curation` (quality gate, `Contamination`,
  * `TextDedup`, `Export` shards), one snapshot commit of the admitted
  * documents as (doc_id, source, n_chars), and the view build by
  * `ViewMaintenance`. Seeded CDC upsert batches then land one parquet file
  * at a time in a source directory; each is drained by `ViewGate` (one
  * MERGE into the table, then `ViewMaintenance` catch-up of the view)
  * under `Trigger.AvailableNow`. A write operation is one batch's
  * freshness: from the file having landed to the drain that makes the view
  * current. Batches edit hot documents, insert new ones and move documents
  * between sources. Read operations are SQL statements through
  * `GraftCatalog` (the view, one group of it, a key-range aggregate of the
  * table, `VERSION AS OF`). The export is checked afterwards against the
  * planted defects and the x166 admission algebra, the table against the
  * export, the view after every drain against a full recomputation from
  * `Snapshots.readAt`, and every read against an in-memory shadow of the
  * table. */
object IncrementalView extends Workload {

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val Sources = 40
  val HotKeys = 500
  val Cat = "pv"
  /** Drains made even when the time is up, so every metric has samples. */
  val MinDrains = 5

  private def batchRows(ctx: Ctx) = if (ctx.tiny) 50 else 400

  private def source(i: Int) = f"src$i%02d"

  /** The table's row of each exported document. */
  private def docRows(export: DataFrame): DataFrame = export.select(col("doc_id"),
    format_string("src%02d", (col("doc_id") % Sources).cast("int")).as("source"),
    length(col("text")).cast("long").as("n_chars"))

  private def maintain(spark: SparkSession, dir: String) =
    ViewMaintenance.maintain(spark, s"$dir/tbl", Seq("doc_id"), Seq("source"),
      Seq("n_chars"), s"$dir/feed", s"$dir/view")

  /** The bulk operation: curates `docs` into `dir/export`, commits the
    * admitted documents to `dir/tbl` with zone-map stats on the key, and
    * builds the view. */
  private def ingest(spark: SparkSession, docs: String, dir: String): Unit = {
    CorpusCuration.chain(spark.read.parquet(docs), s"$dir/export")
    Snapshots.commitAppend(docRows(spark.read.parquet(s"$dir/export")).coalesce(1),
      s"$dir/tbl", recordSchema = true, statsCols = Seq("doc_id"))
    maintain(spark, dir)
  }

  /** Drains every landed batch of `dir/src` through `ViewGate`. */
  private def drain(spark: SparkSession, dir: String): Unit = {
    val q = ViewGate.start(spark,
      spark.readStream.schema(Schema).option("recursiveFileLookup", "true").parquet(s"$dir/src"),
      s"$dir/tbl", keys = Seq("doc_id"), dims = Seq("source"), measures = Seq("n_chars"),
      feedDir = s"$dir/feed", viewTable = s"$dir/view", checkpoint = s"$dir/ckpt",
      pruneOn = Some("doc_id"))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Lands one batch by an atomic rename. */
  private def land(spark: SparkSession, dir: String, rows: Seq[Row], batch: Int): Unit = {
    val stage = s"$dir/stage/b$batch"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema).write.parquet(stage)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/src"))
    java.nio.file.Files.move(java.nio.file.Paths.get(stage), java.nio.file.Paths.get(s"$dir/src/b$batch"))
  }

  /** Writes the x166 oracle for the checks, and warms up, not timed: the
    * bulk operation once over a small batch, so that its timed run does not
    * pay first-use costs. The drains are not warmed up (a warm-up drain
    * costs 8-10 s); the median over the run's drains leaves out the first,
    * cold one. */
  override def prepare(ctx: Ctx): Unit = {
    val x166 = graft.queries.Registry.all.find(_.name == "x166_corpus_e2e").get
    Files.write(s"${ctx.work}/x166_oracle.sql", x166.oracle.get)
    ingest(ctx.spark, s"${ctx.in}/corpus/warm.parquet", s"${ctx.work}/warm")
  }

  /** The table starts from the bulk operation, so set-up is the session
    * launch and the catalog. */
  def setup(ctx: Ctx, dir: String): Unit = {
    ctx.spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sql.GraftCatalog")
    ctx.spark.conf.set(s"spark.sql.catalog.$Cat.root", dir)
  }

  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val tbl = s"$dir/tbl"
    val rnd = new java.util.Random(ctx.seed * 17 + 3)

    def groups(rows: Array[Row]): Map[String, (Long, Long)] =
      rows.map(r => r.getString(0) -> ((r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))).toMap

    def recompute(): Map[String, (Long, Long)] =
      groups(Snapshots.readAt(spark, tbl).groupBy("source")
        .agg(count(lit(1)), sum(col("n_chars"))).collect())

    def read(name: String, text: String)(check: Array[Row] => Boolean): Unit =
      ctx.op(ctx.rec.read, name, "sql")(spark.sql(text).collect()).foreach { got =>
        ctx.rec.check(check(got), s"$name: $text returned ${got.take(5).mkString(",")}")
      }
    val viewSelect = s"SELECT source, n_rows, sum_n_chars FROM $Cat.view"
    def readRange(a: Long) = s"SELECT count(*), coalesce(sum(n_chars), 0) FROM $Cat.tbl " +
      s"WHERE doc_id BETWEEN $a AND ${a + 999}"
    def readVersion(v: Long) = s"SELECT count(*), coalesce(sum(n_chars), 0) FROM $Cat.tbl " +
      s"VERSION AS OF $v"

    if (ctx.op(ctx.rec.bulk, "ivm.ingest", "ext")(
        ingest(spark, s"${ctx.in}/corpus/backlog.parquet", dir)).isEmpty) return
    ctx.outputs += "corpus_batches" -> Json.arr(Seq(Json.obj(Seq(
      "batch" -> Json.str("backlog"), "export" -> Json.str(s"$dir/export")))))

    // the shadow starts from the export, which the checks compare with
    // the planted defects and the admission algebra
    val shadow = mutable.Map.empty[Long, (String, Long)]
    docRows(spark.read.parquet(s"$dir/export")).collect()
      .foreach(r => shadow(r.getLong(0)) = (r.getString(1), r.getLong(2)))
    val table = Snapshots.readAt(spark, tbl).collect()
    ctx.rec.check(table.length == shadow.size &&
        table.forall(r => shadow.get(r.getLong(0)).contains((r.getString(1), r.getLong(2)))),
      s"ingested table (${table.length} rows) differs from the export (${shadow.size} documents)")
    val keys = mutable.ArrayBuffer.from(shadow.keys.toSeq.sorted)
    val hot = keys.take(HotKeys).toIndexedSeq
    val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    def record(): Unit = versions(Snapshots.currentVersion(spark, tbl)) =
      (shadow.size.toLong, shadow.valuesIterator.map(_._2).sum)
    record()
    var nextId = keys.last
    var planted = ctx.plantWrong
    var ckptFiles = 0L
    var drains = 0
    ctx.rec.check(groups(ViewMaintenance.readView(spark, s"$dir/view")
        .select("source", "n_rows", "sum_n_chars").collect()) == recompute(),
      "initial view differs from the recomputation")
    // the read statements once each, not timed, so that the timed reads do
    // not pay their first planning and code generation
    Seq(s"$viewSelect WHERE n_rows > 0", s"$viewSelect WHERE source = 'src00'", readRange(keys.head),
      readVersion(versions.keys.last)).foreach(q => spark.sql(q).collect())

    var batch = 0
    while (ctx.timeLeft || drains < MinDrains) {
      // one CDC batch: 70% edits of hot documents (source kept), 20% new
      // documents, 10% documents moved to another source
      val rows = (0 until batchRows(ctx)).map { _ =>
        rnd.nextInt(10) match {
          case k if k < 7 =>
            val id = hot(rnd.nextInt(hot.size))
            Row(id, shadow(id)._1, 100L + rnd.nextInt(5000))
          case k if k < 9 =>
            nextId += 1
            Row(nextId, source(rnd.nextInt(Sources)), 100L + rnd.nextInt(5000))
          case _ =>
            Row(keys(rnd.nextInt(keys.size)), source(rnd.nextInt(Sources)), 100L + rnd.nextInt(5000))
        }
      }.groupBy(_.getLong(0)).values.map(_.head).toSeq
      land(spark, dir, rows, batch)
      batch += 1
      val ck0 = Files.filesUnder(s"$dir/ckpt")
      ctx.op(ctx.rec.write, "ivm.drain", "streaming")(drain(spark, dir)).foreach { _ =>
        ctx.rec.items += rows.size
        ckptFiles += Files.filesUnder(s"$dir/ckpt") - ck0
        drains += 1
        rows.foreach { r =>
          if (!shadow.contains(r.getLong(0))) keys += r.getLong(0)
          shadow(r.getLong(0)) = (r.getString(1), r.getLong(2))
        }
        record()
        val want = recompute()
        read("ivm.read_view", s"$viewSelect WHERE n_rows > 0") { got =>
          var g = groups(got)
          if (planted) { g = g.drop(1); planted = false }
          g == want
        }
        val s = source(rnd.nextInt(Sources))
        read("ivm.read_group", s"$viewSelect WHERE source = '$s'") {
          got => groups(got) == want.filter(_._1 == s)
        }
        val a = keys(rnd.nextInt(keys.size))
        val in = (a to a + 999).flatMap(shadow.get)
        read("ivm.read_range", readRange(a)) { got =>
          got.head.getLong(0) == in.size && got.head.getLong(1) == in.map(_._2).sum
        }
        val vs = versions.keys.toSeq.takeRight(4)
        val v = vs(rnd.nextInt(vs.size))
        read("ivm.read_version", readVersion(v)) { got =>
          (got.head.getLong(0), got.head.getLong(1)) == versions(v)
        }
        if (drains == MinDrains) ctx.rec.spaceAmp += spaceAmp(ctx, dir)
      }
    }
    if (drains < MinDrains) ctx.rec.spaceAmp += spaceAmp(ctx, dir)
    if (ctx.isTraceRun)
      ctx.layer("streaming.ckpt_files_per_drain") = if (drains == 0) 0.0 else ckptFiles.toDouble / drains
  }

  /** Bytes under the table, view and change feed ÷ the table and the view
    * written as one file each. */
  private def spaceAmp(ctx: Ctx, dir: String): Double = {
    val compact = s"$dir/compact"
    Snapshots.readAt(ctx.spark, s"$dir/tbl").coalesce(1).write.parquet(s"$compact/tbl")
    Snapshots.readAt(ctx.spark, s"$dir/view").coalesce(1).write.parquet(s"$compact/view")
    val c = Files.bytesUnder(compact)
    Files.deleteTree(compact)
    Seq("tbl", "view", "feed").map(d => Files.bytesUnder(s"$dir/$d")).sum.toDouble / c
  }
}
