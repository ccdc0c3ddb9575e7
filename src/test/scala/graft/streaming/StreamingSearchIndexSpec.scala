package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.SearchIndex
import graft.operators.IvfIndex

/** Stream-driven search-index maintenance — the reference's actual
  * program (a CDC stream keeping a search index current, forever):
  * after N streamed epochs of upserts/replacements/deletes the served
  * BM25 result must equal a from-scratch build of the equivalent
  * corpus; redelivered epochs must converge, cleared-checkpoint
  * restarts must fail loud; the streamed IVF index must serve exact
  * neighbors of its live corpus under exhaustive probing.
  */
class StreamingSearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "join", "window")

  /** Deterministic corpus: every doc holds filler plus a term mix that
    * varies by id, so BM25 scores differ across docs.
    */
  private def text(i: Long): String = {
    val filler = (1 to 20).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")
    val hits = Seq.fill((i % 4).toInt)("spark") ++
      Seq.fill((i % 3).toInt)("join") ++ Seq.fill((i % 2).toInt)("window")
    (filler + " " + hits.mkString(" ")).trim
  }

  private def served(dir: String): Seq[(Long, Double)] =
    SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq

  test("N streamed epochs == from-scratch build; redelivery and half-commits converge; stale epochs fail loud") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ssidx").toString
    val dir = s"$base/idx"; val ckpt = s"$base/ckpt"

    val in = MemoryStream[(Long, String, String)]
    val q = StreamingSearchIndex.startText(
      in.toDF().toDF("doc_id", "text", "_action"),
      "doc_id", "text", dir, ckpt, compactEvery = 2)

    // epoch 0: bootstrap build from the first batch's upserts
    in.addData((0L until 60L).map(i => (i, text(i), "upsert")): _*)
    q.processAllAvailable()
    // epoch 1: 20 new docs, one replaced, ten deleted
    in.addData(((60L until 80L).map(i => (i, text(i), "upsert")) ++
      Seq((7L, "spark join window spark fresh", "upsert")) ++
      (20L until 30L).map(i => (i, null: String, "delete"))): _*)
    q.processAllAvailable()
    // epoch 2: delete one of the new docs, re-admit a deleted id
    in.addData((65L, null: String, "delete"), (22L, text(22L), "upsert"))
    q.processAllAvailable()
    q.stop()

    // the equivalent corpus, built from scratch
    val corpus = (0L until 80L)
      .filter(i => !(20L until 30L).contains(i) || i == 22L)
      .filter(_ != 65L)
      .map(i => if (i == 7L) (i, "spark join window spark fresh") else (i, text(i)))
      .toDF("doc_id", "text")
    val freshDir = s"$base/fresh"
    SearchIndex.build(corpus, "doc_id", "text", freshDir)
    val want = served(freshDir)
    assert(want.nonEmpty)
    assert(served(dir) === want,
      "streamed index must serve exactly what a from-scratch build serves")

    // restart-with-redelivery: the last epoch replays in full — state
    // must not change (marker committed → re-apply converges)
    val replay = Seq((65L, null: String, "delete"), (22L, text(22L), "upsert"))
      .toDF("doc_id", "text", "_action")
    StreamingSearchIndex.processTextBatch(replay, "doc_id", "text", dir, epoch = 2L)
    assert(served(dir) === want, "redelivered epoch must converge")

    // half-committed crash: merge landed but the marker write was lost
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_applied_epoch"), false)
    StreamingSearchIndex.processTextBatch(replay, "doc_id", "text", dir, epoch = 2L)
    assert(served(dir) === want, "half-committed epoch replay must converge")
    assert(StreamingSearchIndex.lastApplied(spark, dir) === Some(2L))

    // cleared-checkpoint restart: an epoch below the marker means the
    // stream would silently re-apply history — fail loud instead
    val stale = intercept[IllegalStateException] {
      StreamingSearchIndex.processTextBatch(replay, "doc_id", "text", dir, epoch = 0L)
    }
    assert(stale.getMessage.contains("fresh checkpoint"))
  }

  test("a marker rename that does not take effect fails the commit; the restart guard still holds") {
    FailRenameFs.registered(spark.sparkContext.hadoopConfiguration) {
      val dir = "failrename://" + Files.createTempDirectory("ssidx-rename") + "/idx"
      val deletes = Seq((5L, null: String, "delete")).toDF("doc_id", "text", "_action")
      def epoch(e: Long): Unit =
        StreamingSearchIndex.processTextBatch(deletes, "doc_id", "text", dir, epoch = e)
      epoch(0L); epoch(1L)
      assert(StreamingSearchIndex.lastApplied(spark, dir) === Some(1L))
      FailRenameFs.failing("_applied_epoch") {
        intercept[java.io.IOException](epoch(2L))
      }
      // the stream restarted with a cleared checkpoint must still be
      // refused, not re-apply history onto the live index
      val stale = intercept[IllegalStateException](epoch(0L))
      assert(stale.getMessage.contains("fresh checkpoint"), stale.getMessage)
    }
  }

  test("deletes-only first batch leaves the index unborn; the next upserts bootstrap it") {
    val base = Files.createTempDirectory("ssidx2").toString
    val dir = s"$base/idx"
    StreamingSearchIndex.processTextBatch(
      Seq((5L, null: String, "delete")).toDF("doc_id", "text", "_action"),
      "doc_id", "text", dir, epoch = 0L)
    assert(StreamingSearchIndex.lastApplied(spark, dir) === Some(0L))
    StreamingSearchIndex.processTextBatch(
      (0L until 30L).map(i => (i, text(i), "upsert")).toDF("doc_id", "text", "_action"),
      "doc_id", "text", dir, epoch = 1L)
    val freshDir = s"$base/fresh"
    SearchIndex.build((0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", freshDir)
    assert(served(dir) === served(freshDir))
  }

  test("a crash mid-bootstrap re-runs the build on replay instead of crash-looping the merge") {
    val base = Files.createTempDirectory("ssidx3").toString
    val dir = s"$base/idx"
    val batch = (0L until 30L).map(i => (i, text(i), "upsert"))
      .toDF("doc_id", "text", "_action")
    // simulate: build died after postings/ (written first) but before
    // docs/, the meta sidecar and stats — the shape that used to send
    // every replay down the merge path into a missing-stats read
    graft.etl.SearchIndex.build(batch.drop("_action"), "doc_id", "text", dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/docs"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_meta_buckets"), false)
    // replay of the same epoch must bootstrap again and converge
    StreamingSearchIndex.processTextBatch(batch, "doc_id", "text", dir, epoch = 0L)
    val freshDir = s"$base/fresh"
    SearchIndex.build((0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", freshDir)
    assert(served(dir) === served(freshDir))
  }

  test("a legacy complete index (no meta sidecar) takes the merge path, not a re-bootstrap") {
    val base = Files.createTempDirectory("ssidx5").toString
    val dir = s"$base/idx"
    SearchIndex.build((0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // pre-meta layout generation: stats/ present, sidecar absent
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/_meta_buckets"), false)
    // one upsert batch: a mis-detected bootstrap would OVERWRITE the
    // corpus with this single document — merge must preserve it
    StreamingSearchIndex.processTextBatch(
      Seq((99L, text(99L), "upsert")).toDF("doc_id", "text", "_action"),
      "doc_id", "text", dir, epoch = 0L)
    val freshDir = s"$base/fresh"
    SearchIndex.build(((0L until 30L) :+ 99L).map(i => (i, text(i)))
      .toDF("doc_id", "text"), "doc_id", "text", freshDir)
    assert(served(dir) === served(freshDir))
  }

  test("bm25 ranking survives compaction-crash duplicated postings rows") {
    val base = Files.createTempDirectory("ssidx4").toString
    val dir = s"$base/idx"
    val docs = (0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text")
    SearchIndex.build(docs, "doc_id", "text", dir)
    val before = served(dir)
    // duplicate every postings row — the write-then-delete crash window
    val post = spark.read.parquet(s"$dir/postings").localCheckpoint(true)
    post.write.mode("append").partitionBy("tbucket").parquet(s"$dir/postings")
    assert(served(dir) === before,
      "duplicated postings changed df/tf and reranked the serve")
  }

  test("streamed IVF index serves exact top-k of the live corpus under exhaustive probing") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ssivf").toString
    val dir = s"$base/idx"; val ckpt = s"$base/ckpt"
    val dims = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dims)(d => (((seed * 31 + d * 13) % 17) - 8).toFloat / 8f)

    val p = IvfIndex.Params(nlist = 4, nprobe = 4, k = 3)
    val in = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingSearchIndex.startVectors(
      in.toDF().toDF("vec_id", "embedding", "_action"),
      "vec_id", "embedding", dir, ckpt, p = p)

    in.addData((0L until 40L).map(i => (i, vec(i), "upsert")): _*)
    q.processAllAvailable()
    in.addData(((40L until 60L).map(i => (i, vec(i), "upsert")) ++
      Seq((3L, vec(1003L), "upsert")) ++  // replace: may move clusters
      (10L until 15L).map(i => (i, null: Array[Float], "delete"))): _*)
    q.processAllAvailable()
    q.stop()

    // live corpus after the stream
    val live: Seq[(Long, Array[Float])] = (0L until 60L)
      .filter(i => !(10L until 15L).contains(i))
      .map(i => (i, if (i == 3L) vec(1003L) else vec(i)))

    // driver brute-force oracle on unit vectors (nprobe = nlist makes
    // the served path exhaustive, so ranks must match exactly)
    def unit(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }
    val liveU = live.map { case (i, v) => (i, unit(v)) }
    val queries = Seq((9001L, vec(201L)), (9002L, vec(207L)))
    val want = queries.flatMap { case (qid, qv) =>
      val qu = unit(qv)
      liveU.map { case (cid, cu) =>
        (qid, cid, (qu, cu).zipped.map(_ * _).sum) }
        .sortBy { case (_, cid, sim) => (-sim, cid) }
        .take(p.k).zipWithIndex
        .map { case ((_, cid, _), r) => (qid, (r + 1).toLong, cid) }
    }.toSet

    val got = IvfIndex.topKFromIndex(spark, dir,
        queries.toDF("vec_id", "embedding"), "vec_id", "embedding", p)
      .select(col("q_id"), col("rank"), col("neighbor_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "streamed IVF layout must serve the exact neighbors of its live corpus")
  }

  test("the DSL knn request serves from a STREAM-maintained IVF layout") {
    // the reference's program shape (a stream continuously feeding the
    // index) closed to its CLIENT contract (an OpenSearch `_search`
    // knn request body): the wire request's index arm must serve the
    // layout the stream built, byte-identical to the operator surface.
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ssivf_dsl").toString
    val dir = s"$base/idx"; val ckpt = s"$base/ckpt"
    val dims = 8
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dims)(d => (((seed * 31 + d * 13) % 17) - 8).toFloat / 8f)

    val p = IvfIndex.Params(nlist = 4, nprobe = 2, k = 3)
    val in = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingSearchIndex.startVectors(
      in.toDF().toDF("vec_id", "embedding", "_action"),
      "vec_id", "embedding", dir, ckpt, p = p)
    in.addData((0L until 50L).map(i => (i, vec(i), "upsert")): _*)
    q.processAllAvailable()
    q.stop()

    val qv = vec(123L).map(_.toDouble)
    val served = graft.search.QueryDsl.search(spark.range(1).toDF(),
      s"""{"knn": {"field": "embedding", "id_field": "vec_id",
           "query_vector": [${qv.mkString(",")}], "k": 3,
           "index": {"path": "$dir", "nprobe": 2}}}""")
      .collect().toSeq
    assert(served.size === 3)
    import spark.implicits._
    val direct = IvfIndex.topKFromIndex(spark, dir,
        Seq((-1L, qv.map(_.toFloat))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", p)
      .select(col("neighbor_id").as("vec_id"), col("rank"), col("sim"))
      .collect().toSeq
    assert(served === direct,
      "the wire contract must serve the stream-built layout verbatim")
  }
}

/** The local filesystem under the `failrename` scheme, whose rename
  * onto a path named `FailRenameFs.target` reports `false` while it is
  * set — the way Hadoop clients report most rename failures.
  */
class FailRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName == FailRenameFs.target) false
    else super.rename(src, dst)
}

object FailRenameFs {
  @volatile var target: String = null

  /** Runs `body` with the scheme registered in `conf`. */
  def registered[T](conf: org.apache.hadoop.conf.Configuration)(body: => T): T = {
    conf.set("fs.failrename.impl", classOf[FailRenameFs].getName)
    conf.setBoolean("fs.failrename.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.failrename.impl")
      conf.unset("fs.failrename.impl.disable.cache")
    }
  }

  /** Runs `body` while renames onto `name` fail. */
  def failing[T](name: String)(body: => T): T = {
    target = name
    try body finally target = null
  }
}
