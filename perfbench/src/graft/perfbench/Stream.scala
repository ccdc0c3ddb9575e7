package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{DdbJson, SearchIndex}
import graft.operators.IvfIndex
import graft.streaming.{CdcStream, IndexCompaction, StreamingSearchIndex}

/** The BM25 and IVF search indexes over the doc corpus: the canonical
  * 64-bucket, 97-word layout. The backfill builds them from the corpus;
  * the stream then maintains them from a doc-change feed, compacting
  * every 16 epochs.
  */
final class DocIndexes(ctx: Ctx) {
  val Keys = 3000
  val Ivf = IvfIndex.Params(nlist = 16, nprobe = 4)
  val corpus: IndexedSeq[Gen.Doc] = Gen.corpus(ctx.seed, Keys)
  val events: Path = Files.createDirectories(ctx.dir("doc-events"))
  val textDir: String = ctx.dir("text-index").toString
  val vecDir: String = ctx.dir("vec-index").toString
  /** Every doc version the indexes were given, corpus first. */
  val log: ArrayBuffer[Gen.DocEvent] =
    ArrayBuffer.from(corpus.map(d => Gen.DocEvent(d, delete = false, d.id)))

  /** Start the text and vector maintenance queries on the change feed. */
  def start(): Seq[(String, StreamingQuery)] = {
    val cdc = ctx.spark.readStream
      .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>, _action STRING, _seq LONG")
      .json(events.toString)
    Seq("text" -> StreamingSearchIndex.startText(
        cdc.select(col("doc_id"), col("text"), col("_action"), col("_seq")),
        "doc_id", "text", textDir, ctx.dir("text-ckpt").toString),
      "vec" -> StreamingSearchIndex.startVectors(
        cdc.select(col("doc_id"), col("embedding"), col("_action"), col("_seq")),
        "doc_id", "embedding", vecDir, ctx.dir("vec-ckpt").toString, p = Ivf))
  }

  /** Land epoch `e`'s doc-change file; the caller awaits the queries. */
  def land(e: Int, perEpoch: Int): Seq[Gen.DocEvent] = {
    val evs = Gen.docEpoch(ctx.seed, e, perEpoch, Keys)
    log ++= evs
    Gen.land(events, f"epoch-$e%05d.json", evs.map(Gen.docLine))
    evs
  }

  def live: Map[Long, Gen.Doc] = Oracle.docsLive(log)


  /** The layout a reader pays for: data files and their size. */
  def layout: Map[String, Double] = {
    val t = DocIndexes.parquetFiles(s"$textDir/postings") ++ DocIndexes.parquetFiles(s"$textDir/docs")
    Map("streaming.text.index_files" -> t.size.toDouble,
      "streaming.text.index_mb" -> t.map(Files.size(_)).sum / 1048576.0,
      "streaming.vec.index_files" -> DocIndexes.parquetFiles(s"$vecDir/data").size.toDouble)
  }

  /** BM25 top-10 rows (doc_id, score) for `terms` from an index dir. */
  def top10(dir: String, terms: Seq[String]): Seq[(Long, Double)] =
    SearchIndex.bm25(ctx.spark, dir, terms, topK = 10).collect().toSeq
      .map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[Double]("score")))

  /** Checks the indexes against a replay of every event landed. */
  def checks(prefix: String): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val expected = live
    val ids = expected.keySet
    def idSet(path: String, c: String) =
      spark.read.parquet(path).select(col(c).cast("long")).distinct().as[Long].collect().toSet
    val fresh = ctx.dir("bm25-rebuild").toString
    SearchIndex.build(expected.values.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    val r = Rng.of(ctx.seed, 5)
    val terms = Seq.fill(3)(s"w${r.nextInt(Gen.Vocab)}")
    Seq(s"$prefix.text_doc_ids_eq_live" -> (idSet(s"$textDir/docs", "doc_id") == ids),
      s"$prefix.vec_ids_eq_live" -> (idSet(s"$vecDir/data", "id") == ids),
      s"$prefix.bm25_top10_eq_rebuild" -> (top10(textDir, terms) == top10(fresh, terms)))
  }
}

object DocIndexes {
  /** The parquet data files under `dir`: what a layout costs to read. */
  def parquetFiles(dir: String): Seq[Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
}

/** The two change feeds of the reference's stream path, one epoch in
  * flight. The bootstrap lands the DynamoDB stream's first file, which
  * inserts every key into [[CdcStream]]'s LWW entity snapshot. Each
  * later epoch lands a DynamoDB-stream file of changes and a doc-change
  * file for the backfilled BM25 and IVF indexes, then waits for all
  * three queries.
  */
final class CdcFeeds(ctx: Ctx, val docs: DocIndexes) {
  val DdbKeys = 5000
  val DdbPerEpoch = 1000
  val DocPerEpoch = 200

  val ddbEvents: Path = Files.createDirectories(ctx.dir("ddb-events"))
  val target: String = ctx.dir("cdc-target").toString
  val ddbLog = ArrayBuffer.empty[Gen.DdbEvent]
  val cdc: StreamingQuery =
    CdcStream.start(ctx.spark, ddbEvents.toString, target, ctx.dir("cdc-ckpt").toString)
  val queries: Seq[(String, StreamingQuery)] = ("cdc" -> cdc) +: docs.start()
  var epoch = 0

  private def landDdb(): Int = {
    val ddb = Gen.ddbEpoch(ctx.seed, epoch, DdbPerEpoch, DdbKeys)
    ddbLog ++= ddb
    Gen.land(ddbEvents, f"epoch-$epoch%05d.json", ddb.map(Gen.ddbLine))
    ddb.size
  }

  /** The entity table's initial state: every key inserted. */
  def bootstrap(): Unit = {
    landDdb()
    cdc.processAllAvailable()
    epoch += 1
  }

  /** Land the next epoch on both feeds, wait for every query; returns
    * the number of change events landed.
    */
  def step(): Int = {
    val n = landDdb() + docs.land(epoch, DocPerEpoch).size
    queries.foreach(_._2.processAllAvailable())
    epoch += 1
    n
  }

  def stop(): Unit = queries.foreach(_._2.stop())

  /** Runs `epochs` epochs; when traced, returns the streaming layer's
    * metrics over them.
    */
  def run(epochs: Int, tr: Tracer): Map[String, Double] = {
    val epochS = ArrayBuffer.empty[Double]
    val first = epoch
    var events = 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (0 until epochs).foreach { _ =>
      val s0 = System.nanoTime()
      events += tr.op("streaming.epoch", s"epoch-$epoch")(step())
      epochS += (System.nanoTime() - s0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.jobs.fold(Map.empty[String, Double]) { log =>
      tr.settle()
      val agg = log.agg(_.startMs >= startMs)
      val perQuery = queries.flatMap { case (q, sq) =>
        val ps = sq.recentProgress.filter(p =>
          p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= startMs)
          .map(_.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
        def med(key: String) = Stats.median(ps.map(_.getOrElse(key, 0.0)).toSeq)
        Seq(s"streaming.$q.epoch_s" -> med("triggerExecution") / 1000,
          s"streaming.$q.add_batch_ms" -> med("addBatch"),
          s"streaming.$q.query_planning_ms" -> med("queryPlanning"),
          s"streaming.$q.wal_commit_ms" -> med("walCommit"),
          s"streaming.$q.latest_offset_ms" -> med("latestOffset"))
      }
      Stats.warnIfThin("streaming.epoch_p75_s", epochS.size, 750)
      perQuery.toMap ++ docs.layout ++ Map(
        "streaming.events_per_s" -> events / wall,
        "streaming.epoch_p50_s" -> Stats.median(epochS),
        "streaming.epoch_p75_s" -> Stats.percentile(epochS, 750),
        "streaming.jobs_per_epoch" -> agg.jobs.toDouble / epochs,
        "streaming.tasks_per_epoch" -> agg.tasks.toDouble / epochs,
        "streaming.task_s_per_wall_s" -> agg.taskSeconds / wall,
        "streaming.text.buckets_touched_frac" -> touchedFrac(first until epoch))
    }
  }

  /** Mean fraction of the 64 term buckets an epoch's text touches, with
    * the engine's own term hash.
    */
  private def touchedFrac(epochs: Seq[Int]): Double = {
    val spark = ctx.spark
    import spark.implicits._
    epochs.flatMap { e =>
      Gen.docEpoch(ctx.seed, e, DocPerEpoch, docs.Keys)
        .flatMap(_.doc.text.split(" ")).distinct.map(w => (e, w))
    }.toDF("epoch", "term")
      .select(col("epoch"), pmod(hash(col("term")), lit(64)).as("b"))
      .groupBy("epoch").agg(countDistinct("b").as("n"))
      .agg(avg(col("n"))).head().getDouble(0) / 64
  }

  /** The compaction a 16th epoch runs, timed on the layouts requests
    * read (BM25 postings, IVF data). A few epochs leave fewer files than
    * its threshold of 8 per leaf, so every leaf holding more than one
    * file is compacted.
    */
  def compact(tr: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    tr.op("streaming.compact", "compact") {
      IndexCompaction.compact(spark, s"${docs.textDir}/postings", maxFiles = 1)(
        _.dropDuplicates("term", "doc_id"))
      IndexCompaction.compact(spark, s"${docs.vecDir}/data", maxFiles = 1)(_.dropDuplicates("id"))
    }
    Map("streaming.compact_epoch_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** The entity snapshot equals an LWW replay of every DynamoDB event;
    * the indexes pass [[DocIndexes.checks]].
    */
  def checks(): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val snapshot = CdcStream.readSnapshot(spark, target).get
      .select(col("_doc_id"), DdbJson.attrString(col("item"), "class").as("cls"))
      .as[(String, String)].collect().toMap
    Seq("stream.cdc_snapshot_eq_lww_replay" -> (snapshot == Oracle.ddbLive(ddbLog))) ++
      docs.checks("stream")
  }
}
