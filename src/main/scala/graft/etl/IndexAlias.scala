package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.VersionPointer

/** Zero-downtime reindex through an index ALIAS — the OpenSearch
  * operational pattern behind every breaking mapping change: build the
  * new index under a fresh physical name, then atomically repoint the
  * alias readers resolve through (`POST _aliases` with a paired
  * remove/add; the reference's stack creates and retires per-entity
  * indices the same way). The parquet realization: an alias directory
  * holds versioned index layouts (`v1`, `v2`, …) plus a one-line
  * `_active` pointer committed through [[graft.sources.VersionPointer]];
  * a layout is complete once its `stats` (written LAST by
  * [[SearchIndex.build]]) exists.
  *
  * A crash mid-build leaves a half-written `vN+1` that no reader ever
  * resolves; re-running the reindex claims the NEXT free number and
  * abandons the debris, which ages out through [[prune]] once its
  * number falls below the active version. Old versions stay on disk
  * for rollback until [[prune]]. Concurrent `reindex` calls are
  * serialized per version by an atomic no-overwrite claim-file create —
  * losers move to the next number rather than interleaving writes into
  * the same layout.
  *
  * Scale: cutover cost is one file rename regardless of index size;
  * the build is [[SearchIndex.build]]'s own shape (one corpus pass,
  * bucket-partitioned writes).
  */
object IndexAlias {

  private def fsOf(spark: SparkSession, p: String) =
    VersionPointer.fsOf(p, spark.sparkContext.hadoopConfiguration)

  private def versions(spark: SparkSession, aliasDir: String): Seq[Int] =
    VersionPointer.versions(fsOf(spark, aliasDir), aliasDir, "v").map(_.toInt)

  /** The active version number: the `_active` pointer, else the highest
    * version holding a complete layout.
    */
  private def activeVersion(spark: SparkSession, aliasDir: String): Option[Int] = {
    val fs = fsOf(spark, aliasDir)
    VersionPointer.resolve(fs, aliasDir, "_active", "v")(parseVersion,
      v => fs.exists(new Path(s"$aliasDir/v$v/stats"))).map(_.toInt)
  }

  private def parseVersion(pointer: String) = pointer.stripPrefix("v").toLongOption

  /** The active physical index dir, or None before the first reindex. */
  def resolve(spark: SparkSession, aliasDir: String): Option[String] =
    activeVersion(spark, aliasDir).map(v => s"$aliasDir/v$v")

  /** Atomic create-without-overwrite of the claim file: true = claimed,
    * false = another writer holds it. On the local filesystem Hadoop's
    * `create(f, overwrite=false)` is an exists-then-open TOCTOU window,
    * not O_EXCL — go through `Files.createFile` (O_EXCL proper) there;
    * HDFS/object-store schemes get the namenode-atomic Hadoop create.
    * Only the already-exists failure means "taken"; any other I/O error
    * propagates (a read-only or full filesystem must fail loud, not
    * spin the claim loop forever).
    */
  private def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
      aliasDir: String, n: Int): Boolean = {
    val p = new Path(s"$aliasDir/_claim_v$n")
    try {
      if (VersionPointer.isLocal(fs))
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath)): Unit
      else fs.create(p, false).close()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Build a fresh BM25 layout from `docs` under the next version and
    * atomically cut the alias over to it. Readers in flight keep the
    * old layout; new resolves see the new one. Returns the new
    * physical dir.
    */
  def reindex(docs: DataFrame, idCol: String, textCol: String,
      aliasDir: String, buckets: Int = 64): String = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, aliasDir)
    fs.mkdirs(new Path(aliasDir))
    // claim the version number atomically: the claim-file create loses
    // all but one of any concurrent claimants, so two reindexes can
    // never interleave writes into the same layout
    var next = versions(spark, aliasDir).lastOption.getOrElse(0) + 1
    while (!tryClaim(fs, aliasDir, next)) next += 1
    val dir = s"$aliasDir/v$next"
    SearchIndex.build(docs, idCol, textCol, dir, buckets)
    // cutover is monotonic: if a LATER-claimed build finished first
    // (its version is higher), leave its pointer alone — last-writer-
    // wins here would park the alias on the older corpus forever. The
    // pointer itself decides: resolve's fallback already sees this
    // build as the newest complete layout and would skip the cutover
    val pointed = VersionPointer.read(fs, aliasDir, "_active").flatMap(parseVersion)
    if (next > pointed.getOrElse(0L)) swap(spark, aliasDir, s"v$next")
    dir
  }

  /** Atomically repoint the alias at `version`. */
  def swap(spark: SparkSession, aliasDir: String, version: String): Unit = {
    require(version.matches("v\\d+"), s"not a version name: $version")
    val fs = fsOf(spark, aliasDir)
    require(fs.exists(new Path(s"$aliasDir/$version/stats")),
      s"refusing to point alias at incomplete layout $aliasDir/$version")
    VersionPointer.commit(fs, aliasDir, "_active", version)
  }

  /** Serve BM25 through the alias — fails loud before the first
    * reindex rather than returning an empty ranking.
    */
  def bm25(spark: SparkSession, aliasDir: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    val dir = resolve(spark, aliasDir).getOrElse(throw new IllegalStateException(
      s"alias $aliasDir resolves to no index — reindex first"))
    SearchIndex.bm25(spark, dir, terms, topK = k)
  }

  /** Drop every version older than the active one (rollback window
    * closed). The active version, anything newer (an in-progress
    * build), and any PIT-pinned version ([[openPit]]) survive.
    */
  def prune(spark: SparkSession, aliasDir: String): Seq[String] = {
    val fs = fsOf(spark, aliasDir)
    val active = activeVersion(spark, aliasDir).getOrElse(return Seq.empty)
    versions(spark, aliasDir).filter(_ < active)
      .filterNot(v => VersionPointer.isPinned(fs, aliasDir, s"v$v"))
      .map { v =>
        fs.delete(new Path(s"$aliasDir/v$v"), true)
        fs.delete(new Path(s"$aliasDir/_claim_v$v"), false) // claim goes with it
        s"v$v"
      }
  }

  // ------------------------------------------------ point-in-time reads

  /** A point-in-time handle: the alias resolved ONCE, every later page
    * served from that physical version — the OpenSearch PIT contract.
    * Without it, deep pagination races reindex: `search_after` pages
    * keyset against the ranking, and a cutover between pages swaps the
    * ranking underneath the cursor, silently skipping or repeating
    * documents. The pin also shields the version from [[prune]] until
    * [[releasePit]]; the pin lives in [[VersionPointer]]'s table.
    */
  final case class Pit(aliasDir: String, version: String) {
    def dir: String = s"$aliasDir/$version"
  }

  /** Resolve the alias once and pin the result. Fails loud before the
    * first reindex (no version to pin).
    */
  def openPit(spark: SparkSession, aliasDir: String): Pit =
    VersionPointer.pin(fsOf(spark, aliasDir), aliasDir, s"alias $aliasDir") { () =>
      val v = "v" + activeVersion(spark, aliasDir).getOrElse(throw new IllegalStateException(
        s"alias $aliasDir resolves to no index — reindex first"))
      (Pit(aliasDir, v), Seq(v), Seq(s"$v/stats"))
    }

  /** End the pagination session: drop one pin reference; at zero the
    * version becomes prunable again. Releasing an unpinned handle
    * fails loud (a double release hides a refcount bug).
    */
  def releasePit(pit: Pit): Unit =
    VersionPointer.release(VersionPointer.fsOf(pit.aliasDir), pit.aliasDir, Seq(pit.version))

  /** One `search_after` page against the PINNED version: the cursor is
    * the last (score, doc_id) of the previous page, the ranking total
    * order is (score desc, doc_id asc) — pages are disjoint and
    * complete even when a reindex cuts the alias over mid-pagination.
    */
  def bm25Page(spark: SparkSession, pit: Pit, terms: Seq[String],
      k: Int = 10, after: Option[(Double, Long)] = None): DataFrame =
    SearchIndex.bm25(spark, pit.dir, terms, topK = k, after = after)
}
