package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Contamination, Export, TextDedup}

/** `corpus_curation`: seeded document batches with planted exact
  * duplicates, near duplicates, contaminated and too-short documents go
  * through the x166-shaped chain: quality gate → `Contamination` (ids
  * divisible by 37 are the evaluation set, as in x166) →
  * `TextDedup.dedupExact` → `TextDedup.minhashNearDups` (the later
  * document of each pair goes) → `Export` shards. The bulk operation
  * curates a backlog; each write operation curates one incoming batch;
  * each read operation is a trainer reading one exported shard. The
  * exported documents are checked afterwards against the planted defects
  * and the x166 admission algebra. */
object CorpusCuration extends Workload {

  val Shards = 8
  /** Batches curated even when the time is up, so every metric has samples. */
  val MinBatches = 2

  def chain(docs: DataFrame, out: String): Unit = {
    val withTokens = docs.select(col("doc_id"), col("text"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
    val quality = withTokens.filter(col("n_tokens") >= 20)
    val bench = withTokens.filter(col("doc_id") % 37 === 0)
    val bad = Contamination.contaminatedDocs(quality, col("doc_id"), col("text"),
        bench, col("text"), k = 5)
      .filter(col("n_grams") >= 2).select(col("id").as("__bad"))
    val clean = quality.join(bad, col("doc_id") === col("__bad"), "left_anti")
    val deduped = TextDedup.dedupExact(clean, col("text"), col("doc_id"))
    val near = TextDedup.minhashNearDups(deduped, col("doc_id"), col("text"))
      .select(col("id_b").as("__near")).distinct()
    val admitted = deduped.join(near, col("doc_id") === col("__near"), "left_anti")
    Export.writeShards(Export.shuffleShards(admitted.select("doc_id", "text"),
      col("doc_id"), "perfbench", Shards), out, Shards)
  }

  private def batches(ctx: Ctx): Seq[String] =
    new java.io.File(s"${ctx.in}/corpus").list().toSeq
      .filter(n => n.startsWith("batch_") && n.endsWith(".parquet")).sorted.map(_.stripSuffix(".parquet"))

  /** Writes the x166 oracle for the checks, and warms up: the chain once
    * over a small batch, not timed, so the timed passes do not pay
    * first-use costs. */
  override def prepare(ctx: Ctx): Unit = {
    val x166 = graft.queries.Registry.all.find(_.name == "x166_corpus_e2e").get
    Files.write(s"${ctx.work}/x166_oracle.sql", x166.oracle.get)
    chain(ctx.spark.read.parquet(s"${ctx.in}/corpus/warm.parquet"), s"${ctx.work}/warm")
  }

  /** The chain keeps no state between batches, so set-up is the session
    * launch and opening the backlog. */
  def setup(ctx: Ctx, dir: String): Unit =
    ctx.spark.read.parquet(s"${ctx.in}/corpus/backlog.parquet").schema
  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    val rnd = new java.util.Random(ctx.seed)

    def curate(cls: Samples, name: String): Unit = {
      val out = s"$dir/export/$name"
      val docs = spark.read.parquet(s"${ctx.in}/corpus/$name.parquet")
      val n = docs.count()
      ctx.op(cls, s"corpus.$name", "ext")(chain(docs, out)).foreach { _ =>
        if (cls eq ctx.rec.write) ctx.rec.items += n
        done += Json.obj(Seq("batch" -> Json.str(name), "export" -> Json.str(out)))
        if (ctx.plantWrong && done.size == 1)
          // a contaminated document slipped into a shard: the check must see it
          docs.filter(col("doc_id") % 37 === 0).limit(1).withColumn("rank", lit(-1L))
            .write.mode("append").parquet(s"$out/shard=0")
      }
    }

    curate(ctx.rec.bulk, "backlog")
    val it = batches(ctx).iterator
    while ((ctx.timeLeft || done.size <= MinBatches) && it.hasNext) {
      val name = it.next()
      curate(ctx.rec.write, name)
      val out = s"$dir/export/$name"
      if (done.size == 4) ctx.rec.spaceAmp += spaceAmp(ctx, out)
      (0 until 2).foreach { _ =>
        val shard = rnd.nextInt(Shards)
        ctx.op(ctx.rec.read, "corpus.read_shard", "ext") {
          spark.read.parquet(s"$out/shard=$shard").select("doc_id", "text").collect()
        }.foreach { got =>
          val all = spark.read.parquet(out).filter(col("shard") === shard).count()
          ctx.rec.check(got.length == all, s"shard $shard of $name: read ${got.length} of $all")
        }
      }
    }
    if (ctx.rec.spaceAmp.isEmpty) ctx.rec.spaceAmp += spaceAmp(ctx, s"$dir/export/backlog")
    ctx.outputs += "corpus_batches" -> Json.arr(done.toSeq)
  }

  /** Bytes of one export ÷ its documents written as one file. */
  private def spaceAmp(ctx: Ctx, out: String): Double = {
    val compact = s"$out.compact"
    ctx.spark.read.parquet(out).coalesce(1).write.parquet(compact)
    val c = Files.bytesUnder(compact)
    Files.deleteTree(compact)
    Files.bytesUnder(out).toDouble / c
  }
}
