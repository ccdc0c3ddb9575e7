package graft.streaming

import java.nio.file.{Files, StandardCopyOption, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.IndexAlias
import graft.operators.{IvfAlias, IvfIndex}
import graft.sources.Tables

/** The [[graft.sources.VersionPointer]] protocol under faults, store
  * by store: the disk state a stop after each commit step leaves is
  * rebuilt from copies of the store taken before and after one real
  * commit, and in every state the readers resolve a complete version
  * and the restart guards still throw. Pins address the directory, not
  * its spelling.
  */
class StoreCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): JPath = Files.createTempDirectory(name)

  private def filesUnder(root: JPath): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet

  private def copy(from: JPath, to: JPath, rels: Iterable[String]): Unit =
    rels.foreach { r =>
      val t = to.resolve(r)
      Files.createDirectories(t.getParent)
      Files.copy(from.resolve(r), t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def snapshot(dir: JPath): JPath = {
    val t = tmp("vp-snap")
    copy(dir, t, filesUnder(dir))
    t
  }

  /** The states one commit passes through, rebuilt from copies of the
    * store before (`pre`) and after (`post`) it; `last` marks the files
    * a version's writer puts down last:
    *  - data-partly-written: `pre` plus the new files, less `last`;
    *  - temp-pointer-written: `post`'s data, `pre`'s pointer, and the
    *    temp pointer holding `post`'s contents;
    *  - pointer-replaced: `post`;
    *  - pointer-lost: `post`'s data and the temp pointer, no pointer —
    *    the window of a filesystem without an atomic overwrite-rename.
    */
  private def crashStates(pre: JPath, post: JPath, pointer: String,
      last: String => Boolean): Seq[(String, String)] = {
    val preFiles = filesUnder(pre)
    val isPointer = (r: String) => r == pointer || r == s".$pointer.crc"
    val data = filesUnder(post).filterNot(isPointer)
    val contents = Files.readString(post.resolve(pointer)).trim
    def state(name: String, fromPre: Set[String], fromPost: Set[String],
        temp: Boolean): (String, String) = {
      val d = tmp(s"vp-$name")
      copy(pre, d, fromPre)
      copy(post, d, fromPost)
      if (temp) Files.writeString(d.resolve(s"$pointer.tmp$contents"), contents)
      (name, d.toString)
    }
    Seq(
      state("data-partly-written", preFiles, (data -- preFiles).filterNot(last), temp = false),
      state("temp-pointer-written", preFiles.filter(isPointer), data, temp = true),
      state("pointer-replaced", Set.empty, filesUnder(post), temp = false),
      state("pointer-lost", Set.empty, data, temp = true))
  }

  private val seesPost = Set("pointer-replaced", "pointer-lost")

  private def cdcBatch(rows: (String, String, Long, Long)*): DataFrame =
    rows.toSeq.toDF("_doc_id", "_action", "_seq", "rank")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("CdcStream + TablePit: every commit step leaves a complete snapshot; the epoch guard holds") {
    val dir = tmp("vp-cdc")
    val first = cdcBatch(("a", "upsert", 1L, 10L), ("b", "upsert", 2L, 20L))
    CdcStream.mergeBatch(spark, first, dir.toString, 0L)
    CdcStream.mergeBatch(spark, cdcBatch(("c", "upsert", 3L, 30L)), dir.toString, 1L)
    val pre = snapshot(dir)
    CdcStream.mergeBatch(spark, cdcBatch(("a", "delete", 4L, 0L),
      ("d", "upsert", 5L, 50L)), dir.toString, 2L)
    val post = snapshot(dir)
    val want = Map(
      false -> (1L, rows(CdcStream.readSnapshot(spark, pre.toString).get)),
      true -> (2L, rows(CdcStream.readSnapshot(spark, post.toString).get)))
    assert(want(false)._2 !== want(true)._2)

    crashStates(pre, post, "_LATEST", r => r.startsWith("v=2/") && r.contains("_SUCCESS"))
      .foreach { case (state, d) =>
        withClue(s"$state: ") {
          val (v, snap) = want(seesPost(state))
          assert(CdcStream.latestVersion(d) === Some(v))
          assert(rows(CdcStream.readSnapshot(spark, d).get) === snap)
          val pit = TablePit.open(d)
          try {
            assert(pit.base === Some(v) && pit.deltas.isEmpty)
            assert(rows(TablePit.read(spark, pit)) === snap)
          } finally TablePit.release(pit)
          val e = intercept[IllegalArgumentException](
            CdcStream.mergeBatch(spark, first, d, 0L))
          assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
        }
      }
  }

  test("DeltaCdc + TablePit: a stop inside a compacting epoch never exposes a partial delta or base") {
    val dir = tmp("vp-dcdc")
    val first = cdcBatch(("a", "upsert", 1L, 10L), ("b", "upsert", 2L, 20L))
    // compactEvery = 2: epoch 1 folds into v=1, epoch 3 into v=3
    DeltaCdc.mergeBatchDelta(spark, first, dir.toString, 0L, compactEvery = 2)
    DeltaCdc.mergeBatchDelta(spark, cdcBatch(("c", "upsert", 3L, 30L)),
      dir.toString, 1L, compactEvery = 2)
    DeltaCdc.mergeBatchDelta(spark, cdcBatch(("b", "delete", 4L, 0L)),
      dir.toString, 2L, compactEvery = 2)
    val pre = snapshot(dir)
    DeltaCdc.mergeBatchDelta(spark, cdcBatch(("d", "upsert", 5L, 50L)),
      dir.toString, 3L, compactEvery = 2)
    val post = snapshot(dir)
    val preRows = rows(DeltaCdc.readSnapshot(spark, pre.toString).get)
    val postRows = rows(DeltaCdc.readSnapshot(spark, post.toString).get)
    assert(preRows !== postRows)

    crashStates(pre, post, "_LATEST", r => r.contains("=3/") && r.contains("_SUCCESS"))
      .foreach { case (state, d) =>
        withClue(s"$state: ") {
          val base = if (seesPost(state)) 3L else 1L
          // d=3 commits before the compaction starts, so from the temp
          // pointer on the base-1 composition already folds it in
          val snap = if (state == "data-partly-written") preRows else postRows
          assert(CdcStream.latestVersion(d) === Some(base))
          assert(rows(DeltaCdc.readSnapshot(spark, d).get) === snap)
          val pit = TablePit.open(d)
          try {
            assert(pit.base === Some(base))
            assert(rows(TablePit.read(spark, pit)) === snap)
          } finally TablePit.release(pit)
          val e = intercept[IllegalArgumentException](
            DeltaCdc.mergeBatchDelta(spark, first, d, 0L, compactEvery = 2))
          assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
        }
      }
  }

  private def text(i: Long): String =
    ((1 to 6).map(j => s"w${(i * 7 + j) % 31}") ++
      Seq.fill((i % 3).toInt)("spark")).mkString(" ")

  test("StreamingSearchIndex: every commit step keeps the applied-through epoch and the stale-epoch guard") {
    val dir = tmp("vp-ssi")
    def epoch(e: Long, ids: Seq[Long], d: String = dir.toString): Unit =
      StreamingSearchIndex.processTextBatch(
        ids.map(i => (i, text(i + e), "upsert")).toDF("doc_id", "text", "_action"),
        "doc_id", "text", d, epoch = e, buckets = 4)
    epoch(0L, 0L until 20L)
    epoch(1L, 15L until 25L)
    val pre = snapshot(dir)
    epoch(2L, 5L until 10L)
    val post = snapshot(dir)

    crashStates(pre, post, "_applied_epoch", _ => false).foreach { case (state, d) =>
      withClue(s"$state: ") {
        assert(StreamingSearchIndex.lastApplied(spark, d) ===
          Some(if (seesPost(state)) 2L else 1L))
        val e = intercept[IllegalStateException](epoch(0L, Seq(1L), d))
        assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
      }
    }
  }

  test("IndexAlias: every commit step resolves a complete layout") {
    val alias = tmp("vp-alias")
    def corpus(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    def served(a: String) =
      IndexAlias.bm25(spark, a, Seq("spark", "w3"), k = 5).collect().map(_.toString).toSeq
    IndexAlias.reindex(corpus(0L until 20L), "doc_id", "text", alias.toString, buckets = 4)
    val pre = snapshot(alias)
    IndexAlias.reindex(corpus(10L until 40L), "doc_id", "text", alias.toString, buckets = 4)
    val post = snapshot(alias)
    val want = Map(false -> ("v1", served(pre.toString)), true -> ("v2", served(post.toString)))
    assert(want(false)._2 !== want(true)._2)

    crashStates(pre, post, "_active", _.startsWith("v2/stats/")).foreach { case (state, d) =>
      withClue(s"$state: ") {
        val (v, rows) = want(seesPost(state))
        assert(IndexAlias.resolve(spark, d) === Some(s"$d/$v"))
        assert(served(d) === rows)
      }
    }
  }

  test("IvfAlias: every commit step serves a complete cluster map") {
    val p = IvfIndex.Params(nlist = 4, nprobe = 2, iters = 2, k = 3)
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val root = tmp("vp-ivf")
    def served(r: String) = IvfAlias.topK(spark, r, queries, "vec_id", "embedding", p)
      .collect().map(_.toString).toSeq.sorted
    IvfAlias.build(emb.filter(col("vec_id") < 200), "vec_id", "embedding", p, root.toString)
    val pre = snapshot(root)
    IvfAlias.merge(spark, root.toString,
      emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"), lit("delete").as("_action"))
        .unionByName(emb.filter(col("vec_id").between(200, 260))
          .select(col("vec_id"), col("embedding"), lit("upsert").as("_action"))),
      "vec_id", "embedding")
    val post = snapshot(root)
    val want = Map(false -> (1, served(pre.toString)), true -> (2, served(post.toString)))
    assert(want(false)._2 !== want(true)._2)

    crashStates(pre, post, "_active", _.contains("_clustermap_v2")).foreach { case (state, d) =>
      withClue(s"$state: ") {
        val (v, rows) = want(seesPost(state))
        assert(IvfAlias.activeVersion(spark, d) === v)
        assert(served(d) === rows)
      }
    }
  }

  test("pin keys address the directory: a PIT opened under one spelling survives prune/vacuum under another") {
    // IndexAlias: open under the plain path, prune under `dir/`
    val alias = tmp("vp-pin-alias").toString
    def corpus(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    IndexAlias.reindex(corpus(0L until 10L), "doc_id", "text", alias, buckets = 4)
    val apit = IndexAlias.openPit(spark, alias)
    IndexAlias.reindex(corpus(5L until 15L), "doc_id", "text", alias, buckets = 4)
    assert(IndexAlias.prune(spark, alias + "/") === Seq.empty)
    assert(Files.exists(java.nio.file.Paths.get(alias, "v1", "stats")))
    IndexAlias.releasePit(apit)
    assert(IndexAlias.prune(spark, alias + "/") === Seq("v1"))

    // IvfAlias: open under the plain path, vacuum under `dir/./`
    val p = IvfIndex.Params(nlist = 4, nprobe = 2, iters = 2, k = 3)
    val emb = Tables.load(spark, sf(), "embeddings")
    val root = tmp("vp-pin-ivf").toString
    IvfAlias.build(emb.filter(col("vec_id") < 100), "vec_id", "embedding", p, root)
    val ipit = IvfAlias.openPit(spark, root)
    // re-upserting every id touches every cluster, so no cluster of v1
    // stays shared with v2 and the release leaves v1 unreferenced
    IvfAlias.merge(spark, root, emb.filter(col("vec_id") < 140)
      .select(col("vec_id"), col("embedding"), lit("upsert").as("_action")),
      "vec_id", "embedding")
    assert(IvfAlias.vacuum(spark, root + "/./") === Seq.empty)
    assert(Files.exists(java.nio.file.Paths.get(root, "v1", "centroids")))
    IvfAlias.release(spark, ipit)
    assert(IvfAlias.vacuum(spark, root + "/./") === Seq(1))

    // TablePit: open under the plain path, vacuum through a symlink
    val table = tmp("vp-pin-table")
    (1L to 3L).foreach(e => CdcStream.mergeBatch(spark,
      cdcBatch((s"k$e", "upsert", e, e)), table.toString, e))
    val link = tmp("vp-pin-link").resolve("table")
    Files.createSymbolicLink(link, table)
    val tpit = TablePit.open(table.toString)
    assert(tpit.base === Some(3L))
    CdcStream.mergeBatch(spark, cdcBatch(("k4", "upsert", 4L, 4L)), table.toString, 4L)
    CdcStream.mergeBatch(spark, cdcBatch(("k5", "upsert", 5L, 5L)), table.toString, 5L)
    assert(CdcStream.vacuum(link.toString, keep = 2) === Seq(1L, 2L))
    assert(Files.exists(table.resolve("v=3")))
    TablePit.release(tpit)
    assert(CdcStream.vacuum(link.toString, keep = 2) === Seq(3L))
  }
}
