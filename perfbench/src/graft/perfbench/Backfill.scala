package graft.perfbench

import java.nio.file.Path

import graft.etl.{DdbJson, IngestPipeline, SearchIndex}
import graft.operators.IvfIndex

/** The reference's one-time load, cold: a seeded reference-shaped export
  * through decode, route and the per-entity + DLQ writes, then the BM25
  * and IVF indexes built over the doc corpus, which the stream then
  * maintains.
  */
object Backfill {
  val Items = 30000L
  val ExportFiles = 8

  /** Where the load wrote its entities, and its layers when traced. */
  final case class Loaded(out: Path, layers: Map[String, Double])

  def load(ctx: Ctx, tr: Tracer, docs: DocIndexes): Loaded = {
    val spark = ctx.spark
    import spark.implicits._
    val export = ctx.dir("export")
    Gen.writeExport(ctx.seed, Items, ExportFiles, export)
    val corpusDir = ctx.dir("corpus").toString
    docs.corpus.map(d => (d.id, d.text, d.emb.toArray)).toDF("doc_id", "text", "embedding")
      .repartition(ctx.cpus).write.parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val out = ctx.dir("entities")

    val t0 = System.nanoTime()
    tr.op("etl.ingest", "ingest") {
      val raw = tr.span("etl.export_read")(DdbJson.readExport(spark, export.toString))
      val routed = IngestPipeline.fromRaw(raw)
      tr.span("etl.ingest_materialize")(IngestPipeline.materialize(routed, out.toString))
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    tr.op("etl.bm25_build", "bm25")(SearchIndex.build(corpus, "doc_id", "text", docs.textDir))
    tr.op("operators.ivf_build", "ivf")(
      IvfIndex.writeIndex(corpus, "doc_id", "embedding", docs.Ivf, docs.vecDir))
    val indexS = (System.nanoTime() - t1) / 1e9

    val layers = tr.jobs.fold(Map.empty[String, Double]) { log =>
      tr.settle()
      val ingest = log.agg(_.group == "ingest")
      def spanS(name: String) = tr.seconds(name).sum
      Map(
        "etl.export_read_s" -> spanS("etl.export_read"),
        "etl.ingest_materialize_s" -> spanS("etl.ingest_materialize"),
        "etl.ingest_items_per_s" -> Items / ingestS,
        "etl.ingest_jobs" -> ingest.jobs.toDouble,
        "etl.ingest_tasks" -> ingest.tasks.toDouble,
        "etl.ingest_task_s_per_wall_s" -> ingest.taskSeconds / ingestS,
        "etl.ingest_shuffle_write_mb" -> ingest.shuffleWriteMb,
        "etl.ingest_spill_mb" -> ingest.spillMb,
        "etl.ingest_files_written" -> DocIndexes.parquetFiles(out.toString).size.toDouble,
        "etl.dlq_rows" -> spark.read.parquet(s"$out/dlq").count().toDouble,
        "etl.bm25_build_s" -> spanS("etl.bm25_build"),
        "etl.bm25_files_written" -> DocIndexes.parquetFiles(docs.textDir).size.toDouble,
        "etl.bm25_tasks" -> log.agg(_.group == "bm25").tasks.toDouble,
        "etl.index_build_docs_per_s" -> docs.corpus.size / indexS,
        "operators.ivf_build_s" -> spanS("operators.ivf_build"),
        "operators.ivf_jobs" -> log.agg(_.group == "ivf").jobs.toDouble)
    }
    Loaded(out, layers)
  }

  /** Every export item is accounted for: fare + flight + DLQ = items,
    * and the DLQ holds exactly the one-in-1000 malformed items.
    */
  def checks(ctx: Ctx, l: Loaded): Seq[(String, Boolean)] = {
    def rows(p: String) = ctx.spark.read.parquet(p).count()
    val dlq = rows(s"${l.out}/dlq")
    Seq("backfill.entities_plus_dlq_eq_items" ->
        (rows(s"${l.out}/fare") + rows(s"${l.out}/flight") + dlq == Items),
      "backfill.dlq_eq_items_div_1000" -> (dlq == Items / 1000))
  }
}
