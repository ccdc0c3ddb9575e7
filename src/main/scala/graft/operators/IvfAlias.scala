package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionPointer

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

  /** Read `clusters` through the map — each cluster from its hosting
    * version's directory, the partition value re-attached (path
    * enumeration IS the pruning: nothing outside these directories is
    * ever listed).
    */
  private def readClusters(spark: SparkSession, root: String,
      cmap: Map[Int, Int], clusters: Seq[Int]): Option[DataFrame] =
    clusters.sorted.flatMap { c =>
      cmap.get(c).map(hv =>
        spark.read.parquet(s"$root/v$hv/data/cluster=$c")
          .withColumn("cluster", lit(c)))
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
    IvfIndex.mergeBatch(spark, root, s"$root/v$centVer/centroids",
        readClusters(spark, root, cmap, _), batch, idCol, embCol, actionCol) {
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
    import spark.implicits._
    val (centVer, cmap) = pit match {
      case Some(pt) => (pt.centroidsVersion, pt.clusterMap)
      case None => readMap(spark, root, activeVersion(spark, root))
    }
    val cents = IvfIndex.centroids(spark, s"$root/v$centVer/centroids")
    val qs = AnnTopK.boundedQueryCollect(
      IvfIndex.unitVectors(queries, idCol, embCol, lit(true))
        .map(t => (t._1, t._2)).take(maxQueries + 1),
      maxQueries)
    val probes: Array[Array[Int]] = qs.map { case (_, qx) =>
      cents.indices.toArray
        .sortBy(c => (-IvfIndex.dot(qx, cents(c)), c)).take(p.nprobe)
    }
    val probed = probes.flatten.distinct.sorted.filter(cmap.contains)
    val corpus = readClusters(spark, root, cmap, probed) match {
      case None => spark.emptyDataset[(Long, Array[Double], Int)]
      case Some(df) => df
        .transform(d => filter.fold(d)(d.filter))
        .dropDuplicates("id")
        .select(col("id").cast("long"), col("unit_vec"),
          col("cluster").cast("int"))
        .as[(Long, Array[Double], Int)]
    }
    IvfIndex.probeTopK(corpus, qs, probes, p)
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
