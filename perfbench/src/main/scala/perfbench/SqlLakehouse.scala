package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.io.Snapshots

/** `sql_lakehouse`: a seeded statement stream through `GraftCatalog` (with
  * `GraftExtensions` on the session) over two tables, `accounts`
  * (copy-on-write) and `ledger` (`write.delete.mode=mor`). Half the
  * statements are writes (INSERT batches, keyed MERGE INTO, point and
  * range UPDATE and DELETE; updated keys are skewed towards a hot set),
  * half are reads (point SELECT, range aggregate, COUNT(*), VERSION AS
  * OF). Every 30 writes both tables get CALL optimize, expire and vacuum,
  * so storage levels off. A shadow model in memory checks every read and,
  * after each maintenance pass and at the end, both tables in full. */
object SqlLakehouse extends Workload {

  val Cat = "pb"
  val Names = Seq("accounts", "ledger")
  val MaintainEvery = 30
  val HotKeys = 200

  private def baseRows(ctx: Ctx) = if (ctx.tiny) 2000 else 10000
  private def bulkRows(ctx: Ctx) = if (ctx.tiny) 500 else 2000
  /** Statements of each kind made even when the time is up. */
  val MinEach = 3

  /** The expected contents of one table: id -> (grp, amount), plus the
    * (count, sum) of every committed version still readable. */
  final class Shadow(var nextId: Long) {
    val rows = mutable.Map.empty[Long, (Int, Long)]
    val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    var horizon = 0L
    def agg: (Long, Long) = (rows.size.toLong, rows.valuesIterator.map(_._2).sum)
  }

  private def sql(ctx: Ctx, text: String): Array[Row] = ctx.spark.sql(text).collect()
  private def path(dir: String, t: String) = s"$dir/lake/$t"

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Cat.root", s"$dir/lake")
    Names.foreach(t => sql(ctx, s"CREATE TABLE $Cat.$t (id BIGINT, grp INT, amount BIGINT)"))
    sql(ctx, s"""ALTER TABLE $Cat.ledger SET TBLPROPERTIES
                |('write.delete.mode' = 'mor', 'write.merge.keys' = 'id')""".stripMargin)
    val rnd = new java.util.Random(ctx.seed)
    Names.foreach { t =>
      val rows = (0L until baseRows(ctx)).map(i => Row(i, rnd.nextInt(50), rnd.nextInt(10000).toLong))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        spark.table(s"$Cat.$t").schema).createOrReplaceTempView(s"base_$t")
      sql(ctx, s"INSERT INTO $Cat.$t SELECT * FROM base_$t")
    }
  }

  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    // the base rows, regenerated from the seed exactly as set-up made them
    val base = new java.util.Random(ctx.seed)
    val shadow = Names.map { t =>
      val s = new Shadow(baseRows(ctx))
      (0L until baseRows(ctx)).foreach(i => s.rows(i) = (base.nextInt(50), base.nextInt(10000).toLong))
      t -> s
    }.toMap
    val rnd = new java.util.Random(ctx.seed * 31 + 7)
    val maint = new Samples
    var planted = ctx.plantWrong
    var (newFiles, commits, filesRead, filesLive) = (0L, 0L, 0L, 0L)

    def version(t: String) = Snapshots.currentVersion(spark, path(dir, t))
    def record(t: String): Unit = shadow(t).versions(version(t)) = shadow(t).agg
    Names.foreach(record)

    def key(s: Shadow): Long =
      if (rnd.nextInt(10) < 8) rnd.nextInt(HotKeys).toLong
      else (rnd.nextDouble() * s.nextId).toLong

    def values(rows: Seq[(Long, Int, Long)]): String =
      rows.map { case (i, g, a) => s"($i, $g, $a)" }.mkString(", ")

    def merge(t: String, source: String): String =
      s"""MERGE INTO $Cat.$t t USING $source s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET grp = s.grp, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, grp, amount) VALUES (s.id, s.grp, s.amount)""".stripMargin

    /** Runs one write statement, then applies it to the shadow. */
    def write(cls: Samples, t: String, name: String, text: String)(apply: Shadow => Long): Unit = {
      val before = if (ctx.isTraceRun) Files.filesUnder(s"$dir/lake") else 0L
      val v0 = version(t)
      ctx.op(cls, name, "sql")(sql(ctx, text)).foreach { _ =>
        ctx.rec.items += apply(shadow(t))
        record(t)
        if (ctx.isTraceRun) {
          newFiles += Files.filesUnder(s"$dir/lake") - before
          commits += version(t) - v0
        }
      }
    }

    def checkTable(t: String): Unit = {
      val got = sql(ctx, s"SELECT id, grp, amount FROM $Cat.$t")
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      ctx.rec.check(got.size == shadow(t).rows.size && got == shadow(t).rows,
        s"table $t: ${got.size} rows differ from the shadow's ${shadow(t).rows.size}")
    }

    // bulk: one large keyed MERGE per table from a staged source (60%
    // updates, 40% inserts)
    ctx.op(ctx.rec.bulk, "sql.bulk_merge", "sql") {
      Names.map { t =>
        val s = shadow(t)
        val rows = (0 until bulkRows(ctx)).map { i =>
          val id = if (i % 5 < 3) (rnd.nextDouble() * s.nextId).toLong else s.nextId + i
          (id, rnd.nextInt(50), rnd.nextInt(10000).toLong)
        }.groupBy(_._1).values.map(_.head).toSeq
        spark.createDataFrame(spark.sparkContext.parallelize(
            rows.map { case (i, g, a) => Row(i, g, a) }, 1), spark.table(s"$Cat.$t").schema)
          .createOrReplaceTempView(s"bulk_$t")
        sql(ctx, merge(t, s"bulk_$t"))
        t -> rows
      }
    }.foreach(_.foreach { case (t, rows) =>
      val s = shadow(t)
      rows.foreach { case (i, g, a) => s.rows(i) = (g, a) }
      s.nextId = math.max(s.nextId, rows.map(_._1).max + 1)
      ctx.rec.items += rows.size
      record(t)
    })

    var writes = 0
    while (ctx.timeLeft || ctx.rec.write.n < MinEach || ctx.rec.read.n < MinEach) {
      val t = Names(rnd.nextInt(2))
      val s = shadow(t)
      if (rnd.nextBoolean()) {
        writes += 1
        rnd.nextInt(10) match {
          case 0 | 1 =>
            val rows = (0 until 20).map(i => (s.nextId + i, rnd.nextInt(50), rnd.nextInt(10000).toLong))
            write(ctx.rec.write, t, "sql.insert", s"INSERT INTO $Cat.$t VALUES ${values(rows)}") { sh =>
              rows.foreach { case (i, g, a) => sh.rows(i) = (g, a) }
              sh.nextId += 20
              20
            }
          case 2 | 3 | 4 =>
            val rows = ((0 until 14).map(_ => key(s)).distinct ++ (0 until 6).map(s.nextId + _))
              .map(i => (i, rnd.nextInt(50), rnd.nextInt(10000).toLong))
            val source = s"""(SELECT CAST(id AS BIGINT) AS id, CAST(grp AS INT) AS grp,
                            |CAST(amount AS BIGINT) AS amount
                            |FROM VALUES ${values(rows)} AS v(id, grp, amount))""".stripMargin
            write(ctx.rec.write, t, "sql.merge", merge(t, source)) { sh =>
              rows.foreach { case (i, g, a) => sh.rows(i) = (g, a) }
              sh.nextId += 6
              rows.size
            }
          case 5 | 6 =>
            val k = key(s)
            write(ctx.rec.write, t, "sql.update_point",
              s"UPDATE $Cat.$t SET amount = amount + 7 WHERE id = $k") { sh =>
              sh.rows.get(k).map { case (g, a) => sh.rows(k) = (g, a + 7); 1L }.getOrElse(0L)
            }
          case 7 =>
            val a = key(s)
            write(ctx.rec.write, t, "sql.update_range",
              s"UPDATE $Cat.$t SET amount = amount + 1 WHERE id BETWEEN $a AND ${a + 49}") { sh =>
              (a to a + 49).count { k =>
                sh.rows.get(k).exists { case (g, x) => sh.rows(k) = (g, x + 1); true }
              }.toLong
            }
          case 8 =>
            val k = key(s)
            write(ctx.rec.write, t, "sql.delete_point", s"DELETE FROM $Cat.$t WHERE id = $k") { sh =>
              sh.rows.remove(k).size.toLong
            }
          case _ =>
            val a = key(s)
            write(ctx.rec.write, t, "sql.delete_range",
              s"DELETE FROM $Cat.$t WHERE id BETWEEN $a AND ${a + 9}") { sh =>
              (a to a + 9).count(k => sh.rows.remove(k).isDefined).toLong
            }
        }
        if (writes % MaintainEvery == 0) {
          ctx.rec.spaceAmp += spaceAmp(ctx, dir)
          Names.foreach { m =>
            ctx.op(maint, "sql.maintain", "sql") {
              sql(ctx, s"CALL $Cat.system.optimize('$m', 'id', 2)")
              val v = version(m)
              sql(ctx, s"CALL $Cat.system.expire('$m', $v)")
              sql(ctx, s"CALL $Cat.system.vacuum('$m')")
            }
            shadow(m).horizon = version(m)
            record(m)
            checkTable(m)
          }
        }
      } else {
        val scans0 = ctx.trace.map(_.scans.size).getOrElse(0)
        val (name, text, want): (String, String, Seq[Any]) = rnd.nextInt(10) match {
          case 0 | 1 | 2 | 3 =>
            val k = key(s)
            ("sql.read_point", s"SELECT grp, amount FROM $Cat.$t WHERE id = $k",
              s.rows.get(k).toSeq.flatMap { case (g, a) => Seq(g, a) })
          case 4 | 5 | 6 =>
            val a = key(s)
            val in = (a to a + 499).flatMap(s.rows.get)
            ("sql.read_range", s"SELECT count(*), coalesce(sum(amount), 0) FROM $Cat.$t " +
              s"WHERE id BETWEEN $a AND ${a + 499}", Seq(in.size.toLong, in.map(_._2).sum))
          case 7 | 8 =>
            ("sql.read_count", s"SELECT count(*) FROM $Cat.$t", Seq(s.rows.size.toLong))
          case _ =>
            val vs = s.versions.keys.filter(_ >= s.horizon).toSeq.takeRight(5)
            val v = vs(rnd.nextInt(vs.size))
            ("sql.read_version", s"SELECT count(*), coalesce(sum(amount), 0) FROM $Cat.$t " +
              s"VERSION AS OF $v", Seq(s.versions(v)._1, s.versions(v)._2))
        }
        ctx.op(ctx.rec.read, name, "sql")(sql(ctx, text)).foreach { rows =>
          var got = rows.headOption.toSeq.flatMap(_.toSeq)
          if (planted) { got = got.map { case l: Long => l + 1; case x => x }; planted = false }
          ctx.rec.check(got == want, s"$name on $t: got $got, want $want")
          if (ctx.isTraceRun && ctx.trace.get.scans.size > scans0) {
            filesRead += ctx.trace.get.scans.drop(scans0)
              .filter(_._1.exists(_.contains("/lake/"))).map(_._3).sum
            filesLive += Snapshots.liveFiles(spark, path(dir, t)).size
          }
        }
      }
    }
    if (ctx.rec.spaceAmp.isEmpty) ctx.rec.spaceAmp += spaceAmp(ctx, dir)
    Names.foreach(checkTable)
    if (ctx.isTraceRun) {
      ctx.layer("snapshots.files_per_commit") = if (commits == 0) 0.0 else newFiles.toDouble / commits
      ctx.layer("sql.files_read_ratio") = if (filesLive == 0) 0.0 else filesRead.toDouble / filesLive
    }
  }

  /** Bytes under the table roots ÷ the tables' contents written as one
    * file each. */
  private def spaceAmp(ctx: Ctx, dir: String): Double = {
    val compact = s"$dir/compact"
    val c = Names.map { t =>
      ctx.spark.table(s"$Cat.$t").coalesce(1).write.mode("overwrite").parquet(s"$compact/$t")
      Files.bytesUnder(s"$compact/$t")
    }.sum
    Files.deleteTree(compact)
    Files.bytesUnder(s"$dir/lake").toDouble / c
  }
}
