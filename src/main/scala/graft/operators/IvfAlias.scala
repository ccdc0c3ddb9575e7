package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.{TouchedLeaves, VersionPointer}

/** VERSIONED IVF serving store with point-in-time pins (r16, VERDICT
  * r15 #5) — the [[graft.etl.IndexAlias]] / [[graft.streaming.TablePit]]
  * discipline brought to the vector-index layouts: [[IvfIndex
  * .mergeCdcBatch]]'s dynamic partition overwrite rewrites touched
  * clusters IN PLACE, so a search session paging mid-merge can see
  * mixed state. Here every merge instead writes a NEW version holding
  * ONLY the clusters it touched, plus a tiny cluster map naming, per
  * cluster, the version that hosts its current piece; a version is
  * complete once its map is written:
  *
  * {{{
  * root/v1/data/cluster=*        full build (+ v1/centroids)
  * root/v3/data/cluster=7        a merge's rewrite of cluster 7
  * root/_clustermap_v3           "centroids v1", then "<cluster> v<host>"
  * root/_active                  current map version (VersionPointer commit)
  * }}}
  *
  * Copy-on-write economics at 100 TB: a merge still reads and writes
  * ONLY the touched clusters (untouched cluster directories are SHARED
  * across versions through the map — never copied), the cutover is one
  * pointer rename, and a pinned session keeps resolving its frozen map
  * while merges land and [[vacuum]] reclaims unreferenced versions.
  * Serving reads exactly the probed clusters' hosting directories —
  * path-enumerated pruning, strictly the same bytes the partition
  * filter would admit.
  *
  * Pins live in [[graft.sources.VersionPointer]]'s one table.
  * Single-writer contract for [[build]]/[[merge]] (the CdcMerge epoch
  * discipline): crash mid-merge leaves an unreferenced version the
  * pointer never named — the next merge claims a higher number and
  * [[vacuum]] reclaims the debris once the pointer moves past it.
  *
  * SignPq/SignIvf note: those quantizers serve in-memory from the
  * corpus (no persisted layout exists to pin); the IVF store here is
  * the one persisted vector serving surface.
  */
object IvfAlias {

  final case class Pit(root: String, version: Int, centroidsVersion: Int,
      clusterMap: Map[Int, Int])

  private def fsOf(spark: SparkSession, p: String) =
    VersionPointer.fsOf(p, spark.sparkContext.hadoopConfiguration)

  private def versionsOnDisk(spark: SparkSession, root: String): Seq[Int] =
    VersionPointer.versions(fsOf(spark, root), root, "v").map(_.toInt)

  private def mapPath(root: String, v: Int) = new Path(s"$root/_clustermap_v$v")

  private def writeMap(spark: SparkSession, root: String, v: Int,
      centVer: Int, cmap: Map[Int, Int]): Unit = {
    val out = fsOf(spark, root).create(mapPath(root, v), true)
    try out.write((s"centroids v$centVer" +:
        cmap.toSeq.sortBy(_._1).map { case (c, hv) => s"$c v$hv" })
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readMap(spark: SparkSession, root: String,
      v: Int): (Int, Map[Int, Int]) = {
    val lines = VersionPointer.read(fsOf(spark, root), root, s"_clustermap_v$v").getOrElse(
      throw new IllegalStateException(
        s"cluster map _clustermap_v$v missing under $root")).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    val cent = lines.head match {
      case s if s.startsWith("centroids v") => s.stripPrefix("centroids v").toInt
      case other => throw new IllegalStateException(
        s"malformed cluster map under $root: first line '$other'")
    }
    (cent, lines.tail.map { l =>
      val Array(c, hv) = l.split(" ")
      c.toInt -> hv.stripPrefix("v").toInt
    }.toMap)
  }

  /** The active map version: the `_active` pointer, else the newest
    * version whose map is written. Fails loud before the first build.
    */
  def activeVersion(spark: SparkSession, root: String): Int = {
    val fs = fsOf(spark, root)
    VersionPointer.resolve(fs, root, "_active", "v")(parseVersion,
      v => fs.exists(mapPath(root, v.toInt)))
      .map(_.toInt).getOrElse(throw new IllegalStateException(
        s"ivf store $root has no active version — build first"))
  }

  private def parseVersion(pointer: String) = pointer.stripPrefix("v").toLongOption

  /** Next free version number — above every on-disk dir AND the
    * pointer (a pure-delete merge moves the pointer without creating
    * a data dir, and reusing its number would overwrite the live map).
    */
  private def nextVersion(spark: SparkSession, root: String): Int = {
    val ptr = VersionPointer.read(fsOf(spark, root), root, "_active")
      .flatMap(parseVersion).getOrElse(0L).toInt
    (versionsOnDisk(spark, root) :+ ptr :+ 0).max + 1
  }

  /** Full (re)build under the next version: an [[IvfIndex.writeIndex]]
    * layout (data + centroids + optional payload columns) plus the
    * cluster map naming this version as every cluster's host.
    */
  def build(embeddings: DataFrame, idCol: String, embCol: String,
      p: IvfIndex.Params, root: String, payloadCols: Seq[String] = Nil): Int = {
    val spark = embeddings.sparkSession
    val n = nextVersion(spark, root)
    IvfIndex.writeIndex(embeddings, idCol, embCol, p, s"$root/v$n", payloadCols)
    writeMap(spark, root, n, n, hostedClusters(spark, root, n).map(_ -> n).toMap)
    VersionPointer.commit(fsOf(spark, root), root, "_active", s"v$n")
    n
  }

  /** The clusters version `v` wrote a `data/cluster=` directory for. */
  private def hostedClusters(spark: SparkSession, root: String, v: Int): Seq[Int] = {
    val data = new Path(s"$root/v$v/data")
    val fs = fsOf(spark, root)
    if (!fs.exists(data)) Nil
    else fs.listStatus(data).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("cluster=") =>
        s.getPath.getName.stripPrefix("cluster=").toInt
    }
  }

  /** The [[IvfIndex.Layout]] of the map at centroids version
    * `centVer`: the centroids of `v<centVer>` and the layout schema, read
    * off the lowest hosted cluster (every version's rows share it).
    * Version directories are immutable, so it is held until a retrain
    * writes new centroids; the store holds one entry, that of the
    * centroids version last served.
    */
  private def layout(spark: SparkSession, root: String, centVer: Int,
      cmap: Map[Int, Int]): IvfIndex.Layout =
    IvfIndex.heldLayout(spark, root, s"$root/v$centVer/centroids",
      cmap.toSeq.sorted.headOption.map { case (c, hv) => (s"$root/v$hv/data", c) })

  /** Read `clusters` through the map — each from its hosting version's
    * `data/`, by explicit leaf path with the layout schema (path
    * enumeration IS the pruning: nothing outside these directories is
    * ever listed, and no read infers a schema).
    */
  private def readClusters(spark: SparkSession, root: String,
      cmap: Map[Int, Int], lay: IvfIndex.Layout, clusters: Seq[Int]): Option[DataFrame] =
    clusters.filter(cmap.contains).groupBy(cmap).toSeq.sortBy(_._1).flatMap {
      case (hv, cs) => TouchedLeaves.read(spark, s"$root/v$hv/data", "cluster",
        cs.sorted, lay.schema)
    }.reduceOption(_.unionByName(_))

  /** Merge a CDC batch into the store — the [[IvfIndex.mergeCdcBatch]]
    * contract (one row per key, upsert/delete, nearest EXISTING
    * centroid) realized copy-on-write: touched clusters are rewritten
    * under the NEXT version, untouched clusters stay shared, and the
    * pointer commit publishes the new map atomically. Returns the new
    * version.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, embCol: String, actionCol: String = "_action"): Int = {
    val (centVer, cmap) = readMap(spark, root, activeVersion(spark, root))
    val lay = layout(spark, root, centVer, cmap)
    IvfIndex.mergeBatch(spark, root, lay.centroids,
        readClusters(spark, root, cmap, lay, _), batch, idCol, embCol, actionCol) {
      (touched, rows) =>
        val n = nextVersion(spark, root)
        if (touched.nonEmpty)
          rows.write.mode("overwrite").partitionBy("cluster")
            .parquet(s"$root/v$n/data")
        // copy the (tiny, nlist×dims) centroids forward so a superseded
        // full-build version is not kept alive forever just for them —
        // exact doubles round-trip parquet bit-for-bit (the layout
        // contract), so serving math is unchanged
        spark.read.parquet(s"$root/v$centVer/centroids")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v$n/centroids")
        // a touched cluster the rewrite emptied has no directory in v$n
        val newMap = (cmap -- touched) ++ hostedClusters(spark, root, n).map(_ -> n)
        writeMap(spark, root, n, n, newMap)
        VersionPointer.commit(fsOf(spark, root), root, "_active", s"v$n")
        n
    }
  }

  /** Serve approximate top-k against the ACTIVE map, or against a
    * pinned one — identical math to [[IvfIndex.topKFromIndex]] (the
    * shared [[IvfIndex.probeTopK]] core), reading only the probed
    * clusters' hosting directories. `filter` pre-filters candidates on
    * payload columns exactly like the direct layout's filtered serve.
    */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, embCol: String, p: IvfIndex.Params = IvfIndex.Params(),
      pit: Option[Pit] = None, filter: Option[Column] = None,
      maxQueries: Int = 4096): DataFrame = {
    val (centVer, cmap) = pit match {
      case Some(pt) => (pt.centroidsVersion, pt.clusterMap)
      case None => readMap(spark, root, activeVersion(spark, root))
    }
    val lay = layout(spark, root, centVer, cmap)
    val (qs, probes) = IvfIndex.probe(queries, idCol, embCol, lay.centroids,
      p.nprobe, maxQueries)
    IvfIndex.serveProbes(spark,
      readClusters(spark, root, cmap, lay, probes.flatten.distinct.sorted.toSeq),
      filter, qs, probes, p)
  }

  /** Pin the active map for a pagination session (see
    * [[VersionPointer.pin]]: every directory the map references is
    * re-checked once the pin lands).
    */
  def openPit(spark: SparkSession, root: String): Pit =
    VersionPointer.pin(fsOf(spark, root), root, s"ivf store $root") { () =>
      val v = activeVersion(spark, root)
      val (centVer, cmap) = readMap(spark, root, v)
      (Pit(root, v, centVer, cmap), Seq(s"v$v"),
        s"v$centVer/centroids" +: cmap.toSeq.map { case (c, hv) => s"v$hv/data/cluster=$c" })
    }

  /** Drop one pin reference; double release fails loud. */
  def release(spark: SparkSession, pit: Pit): Unit =
    VersionPointer.release(fsOf(spark, pit.root), pit.root, Seq(s"v${pit.version}"))

  /** Reclaim version directories nothing references: keep the active
    * version, everything its map references, every PINNED map's
    * version and references, and any version NEWER than active (an
    * in-progress build/merge). Returns the versions removed.
    */
  def vacuum(spark: SparkSession, root: String): Seq[Int] = {
    val fs = fsOf(spark, root)
    val active = activeVersion(spark, root)
    val pinnedMapVers = versionsOnDisk(spark, root)
      .filter(v => VersionPointer.isPinned(fs, root, s"v$v"))
    def refsOf(v: Int): Set[Int] = {
      val (cv, cm) = readMap(spark, root, v)
      cm.values.toSet + cv + v
    }
    val keep = (active +: pinnedMapVers).map(refsOf)
      .foldLeft(Set.empty[Int])(_ ++ _)
    versionsOnDisk(spark, root)
      .filter(v => v < active && !keep(v))
      .map { v =>
        fs.delete(new Path(s"$root/v$v"), true)
        fs.delete(mapPath(root, v), false)
        v
      }
  }
}
