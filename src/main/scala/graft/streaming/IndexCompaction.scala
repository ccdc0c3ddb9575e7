package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-files compaction for the stream-maintained stores: the two
  * dedup stores ([[StreamingDedup]], [[StreamingSemanticDedup]]), whose
  * every epoch appends one parquet file-set per touched partition, and
  * the BM25 and IVF index layouts [[StreamingSearchIndex]] maintains,
  * whose every merge rewrites a touched leaf as up to one file per
  * write task. After 10⁴ epochs a probe would open 10⁴ tiny files per
  * bucket. This helper rewrites any store directory (the unpartitioned
  * root, or each one-level `k=v` partition leaf) holding more than
  * `maxFiles` part files into a single file.
  *
  * Crash-safety protocol — '''write-then-delete''', no transaction
  * log needed:
  *
  *  1. list the leaf's current part files (the doomed set — pinned
  *     BEFORE the rewrite, so files appended later are never deleted);
  *  2. append ONE compacted file with the same rows (the read plan's
  *     file listing is pinned at DataFrame creation, so the append
  *     never re-reads its own output);
  *  3. delete the doomed set.
  *
  * A crash between 2 and 3 leaves every row present TWICE — never
  * absent. That is tolerated by construction in every store: the
  * accepted corpora feed id anti-joins and ≥-threshold probe joins
  * (duplicates change nothing), the band index feeds a candidate join
  * that `.distinct()`s before verification, BM25 serving takes the
  * `max` of a (doc, term)'s scores — its copies are identical rows,
  * the term's `df` included — IVF serving drops duplicate ids, and
  * the merges of both index layouts drop duplicate keys. The next compaction
  * pass then repairs the duplication via the operator's `rewrite`
  * hook (dropDuplicates on the store's key). Single-writer contract:
  * run from the stream's own `foreachBatch` thread (epochs are
  * serialized) — never concurrently with an external writer.
  *
  * Works through the Hadoop FileSystem API, so hdfs:///s3a:// stores
  * compact identically to local ones.
  */
object IndexCompaction {

  private def partFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** True iff `path` exists AND holds at least one non-hidden entry —
    * a part file, or a `k=v` partition directory. A bare
    * `exists(path)` is the wrong guard for the dedup stores: the first
    * CDC batch on a fresh store writes `_tombstones` BEFORE any data,
    * creating the directory, and a subsequent `spark.read.parquet`
    * over the data-less root throws "Unable to infer schema". Hidden
    * entries (`_tombstones`, `_SUCCESS`, `.crc`) never count as data.
    */
  private[graft] def hasDataFiles(spark: SparkSession, path: String): Boolean =
    hasData(listing(spark, path))

  /** The entries of `path`, none when it does not exist. */
  private[graft] def listing(spark: SparkSession, path: String): Array[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root) else Array.empty
  }

  /** [[hasDataFiles]] over a listing already taken. */
  private[graft] def hasData(listing: Array[FileStatus]): Boolean =
    listing.exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** Compact `path`'s root and its one-level `k=v` partition leaves.
    * Directories holding ≤ `maxFiles` part files are left untouched
    * (listing-only cost). `rewrite` runs over each compacted leaf's
    * rows before the write — the operators use it to dedupe
    * crash-duplicated rows and refresh derived columns. Returns the
    * compacted directory names (`"."` for the root).
    */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 8)(
      rewrite: DataFrame => DataFrame = identity): Seq[String] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val leaves = (root +: fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath).toSeq)
    leaves.flatMap { leaf =>
      val doomed = partFiles(fs, leaf)
      if (doomed.length <= maxFiles) None
      else {
        rewrite(spark.read.parquet(leaf.toString))
          .coalesce(1)
          .write.mode("append").parquet(leaf.toString)
        doomed.foreach(f => fs.delete(f.getPath, false))
        Some(if (leaf == root) "." else leaf.getName)
      }
    }
  }
}
