package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.IvfIndex
import graft.search.QueryDsl

/** The reference's dataflow end to end. Set-up is the write side: the
  * cold backfill ([[Backfill]]: export ingest, BM25 and IVF builds), then
  * the stream ([[CdcFeeds]]): the entity table's bootstrap and a
  * steady-state epoch of both change feeds, which merges into the
  * entities and the indexes. The window is closed-loop `_search` traffic on the
  * layout that leaves, delta files and all: four request types recur
  * with seeded per-request literals, at `nproc` clients, then at one.
  * One operation is one request.
  */
object Serve extends Workload {
  val Epochs = 1
  private val WarmIds = 1 << 20 // a multiple of 4: id k keeps its type

  final case class State(loaded: Backfill.Loaded, feeds: CdcFeeds, table: DataFrame,
      written: Map[String, Double], reference: TrieMap[Int, String],
      observed: ConcurrentLinkedQueue[(Int, String)]) {
    def docs: DocIndexes = feeds.docs
  }

  def setup(ctx: Ctx, tr: Tracer): State = {
    val docs = new DocIndexes(ctx)
    val loaded = Backfill.load(ctx, tr, docs)
    val feeds = new CdcFeeds(ctx, docs)
    tr.op("streaming.bootstrap", "bootstrap")(feeds.bootstrap())
    val streaming = feeds.run(Epochs, tr)
    feeds.stop()
    val spark = ctx.spark
    import spark.implicits._
    val tableDir = ctx.dir("docs-table").toString
    docs.live.values.toSeq.map(d => (d.id, d.text, d.text.length.toLong))
      .toDF("doc_id", "text", "n_chars").repartition(ctx.cpus).write.parquet(tableDir)
    val st = State(loaded, feeds, spark.read.parquet(tableDir), loaded.layers ++ streaming,
      TrieMap.empty, new ConcurrentLinkedQueue())
    // the first requests of each shape load classes and compile code,
    // which is not what a request costs; their ids lie beyond any the
    // window reaches, so no timed request repeats one
    Layers.Requests.indices.foreach(k => serve(ctx, st, WarmIds + k, Tracer.Off))
    st
  }

  /** The DSL bodies of request `i`: one for bm25 and bool_agg, two for
    * msearch, none for knn (a vector query).
    */
  def bodies(seed: Long, i: Int): Seq[String] = {
    val r = Rng.of(seed, 6, i)
    def w() = s"w${r.nextInt(Gen.Vocab)}"
    i % 4 match {
      case 0 => Seq(s"""{"query": {"match": {"text": {"query": "${w()} ${w()} ${w()}", """ +
        s""""similarity": "bm25"}}}, "size": 10}""")
      case 1 => Seq(s"""{"query": {"bool": {"must": [{"range": {"n_chars": {"gte": ${30 + r.nextInt(20)}}}}, """ +
        s"""{"match": {"text": "${w()}"}}]}}, "aggs": {"bands": {"histogram": """ +
        s"""{"field": "n_chars", "interval": ${5 + r.nextInt(7)}}}}}""")
      case 2 => Seq(s"""{"query": {"term": {"text": "${w()}"}}}""",
        s"""{"query": {"range": {"n_chars": {"lte": ${40 + r.nextInt(20)}}}}, "size": 5, "_source": ["doc_id", "score"]}""")
      case _ => Nil
    }
  }

  private def knnQuery(ctx: Ctx, i: Int): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Seq((-1L - i, Gen.doc(Rng.of(ctx.seed, 7, i), 0L).emb.toArray)).toDF("id", "embedding")
  }

  /** The call that returns request `i`'s DataFrame. */
  private def build(ctx: Ctx, st: State, i: Int): DataFrame = i % 4 match {
    case 0 => QueryDsl.searchIndexed(ctx.spark, st.docs.textDir, bodies(ctx.seed, i).head)
    case 1 => QueryDsl.search(st.table, bodies(ctx.seed, i).head)
    case 2 => QueryDsl.msearch(st.table, bodies(ctx.seed, i))
    case _ => IvfIndex.topKFromIndex(ctx.spark, st.docs.vecDir, knnQuery(ctx, i),
      "id", "embedding", st.docs.Ivf)
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  final case class Served(i: Int, ms: Double, digest: String, build: Double,
      plan: Double, exec: Double, group: String)

  /** Serve request `i`: build, plan, execute; returns its timings. */
  def serve(ctx: Ctx, st: State, i: Int, tr: Tracer, group: String = ""): Served = {
    val kind = Layers.Requests(i % 4)
    val t0 = System.nanoTime()
    tr.op(s"search.$kind", group) {
      val df = tr.span(s"search.$kind.build")(build(ctx, st, i))
      val t1 = System.nanoTime()
      tr.span(s"search.$kind.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = tr.span(s"search.$kind.exec")(df.collect())
      val t3 = System.nanoTime()
      val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      Served(i, (t3 - t0) / 1e6, digest(rows), (t1 - t0) / 1e6, plan, (t3 - t2) / 1e6, group)
    }
  }

  def window(ctx: Ctx, st: State, tr: Tracer): Window = {
    val failed = new AtomicLong()

    /** `clients` threads share one id counter for `share` of the window.
      * Both phases count ids up from 0, so they serve the same requests.
      * Returns what was served and the summed rate of the clients, each
      * client's rate being its requests over the time to its last reply
      * (so the one request in flight at the deadline skews nothing).
      */
    def phase(clients: Int, tag: String, share: Double): (Seq[Served], Double) = {
      System.gc() // collect the previous phase's garbage outside this one
      val out = new ConcurrentLinkedQueue[Served]()
      val rates = new ConcurrentLinkedQueue[Double]()
      val next = new AtomicInteger()
      val t0 = System.nanoTime()
      val end = t0 + (share * ctx.seconds * 1e9).toLong
      val threads = (0 until clients).map { _ =>
        new Thread(() => {
          var done = 0
          var last = t0
          var i = next.getAndIncrement()
          while (i == 0 || System.nanoTime() < end) {
            try { out.add(serve(ctx, st, i, tr, s"$tag-$i")); done += 1 }
            catch { case e: Exception =>
              failed.incrementAndGet()
              System.err.println(s"perfbench: request $i failed: $e")
            }
            last = System.nanoTime()
            i = next.getAndIncrement()
          }
          if (done > 0) rates.add(done / ((last - t0) / 1e9))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (out.asScala.toSeq, rates.asScala.sum)
    }

    // n clients first: their load finishes warming the request paths, so
    // the one-client latency is read warm. One client takes the larger
    // share: n clients serve faster, and ids they reach beyond the
    // one-client phase cost an extra reference run in the check
    val (many, manyRate) = phase(ctx.cpus, "cn", 0.4)
    val (one, _) = phase(1, "c1", 0.6)
    one.foreach(s => st.reference.putIfAbsent(s.i, s.digest))
    (one ++ many).foreach(s => st.observed.add(s.i -> s.digest))
    // the mix's typical latency: geomean over the types of each type's
    // median, so the figure does not jump between types as their counts
    // shift by one
    val typical = Stats.geomean(one.groupBy(_.i % 4).values.map(ss => Stats.median(ss.map(_.ms))).toSeq)
    val base = Window(one.size + many.size + failed.get, failed.get, manyRate, typical)
    tr.jobs.fold(base) { log =>
      tr.settle()
      def groupOf(s: Served) = (j: JobLog.Job) => j.group == s.group
      val perKind = Layers.Requests.zipWithIndex.flatMap { case (kind, k) =>
        val ss = one.filter(_.i % 4 == k)
        val aggs = ss.map(s => log.agg(groupOf(s)))
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        Seq(s"search.$kind.build_ms" -> med(ss.map(_.build)),
          s"search.$kind.plan_ms" -> med(ss.map(_.plan)),
          s"search.$kind.exec_ms" -> med(ss.map(_.exec)),
          s"search.$kind.jobs" -> med(aggs.map(_.jobs.toDouble)),
          s"search.$kind.tasks" -> med(aggs.map(_.tasks.toDouble))) ++
          (if (kind == "bm25") Seq("search.bm25.bytes_read" -> med(aggs.map(_.bytesRead.toDouble)))
           else Nil)
      }
      val parseMs = (0 until 3).flatMap(i => bodies(ctx.seed, i)).map { b =>
        val t0 = System.nanoTime()
        QueryDsl.parse(b)
        (System.nanoTime() - t0) / 1e6
      }
      val cnAgg = log.agg(_.group.startsWith("cn-"))
      val driverMs = many.map(s => s.ms - JobLog.coveredMs(log.jobsWhere(groupOf(s))))
      Stats.warnIfThin("search.c1_p90_ms", one.size, 900)
      Stats.warnIfThin("search.cn_p90_ms", many.size, 900)
      base.copy(layers = perKind.toMap ++ st.written ++ st.feeds.compact(tr) ++ Map(
        "search.parse_ms" -> Stats.median(parseMs),
        "search.cn.task_s_per_wall_s" -> cnAgg.taskSeconds / (many.size / manyRate),
        "search.cn.driver_ms_per_req" -> Stats.median(driverMs),
        "search.c1_p90_ms" -> Stats.percentile(one.map(_.ms), 900),
        "search.cn_p90_ms" -> Stats.percentile(many.map(_.ms), 900)))
    }
  }

  /** Every request id returns the same rows at one client and at
    * `nproc` clients. Ids the one-client phase did not reach are served
    * once more, alone, outside the timed window, to give their reference.
    */
  def check(ctx: Ctx, st: State): Seq[(String, Boolean)] = {
    val mismatched = st.observed.asScala.count { case (i, d) =>
      st.reference.getOrElseUpdate(i, serve(ctx, st, i, Tracer.Off).digest) != d
    }
    Backfill.checks(ctx, st.loaded) ++ st.feeds.checks() ++
      Seq("serve.rows_equal_at_1_and_n_clients" -> (mismatched == 0),
      "serve.requests_compared" -> !st.observed.isEmpty)
  }
}
