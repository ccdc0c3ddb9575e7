package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The versioned-pointer protocol every versioned store commits
  * through — [[graft.streaming.CdcStream]] / [[graft.streaming.DeltaCdc]]
  * (`_LATEST` over `v=<epoch>`), [[graft.streaming.StreamingSearchIndex]]
  * (the `_applied_epoch` watermark), [[graft.etl.IndexAlias]] and
  * [[graft.operators.IvfAlias]] (`_active` over `v<N>`) and the
  * point-in-time pins of [[graft.streaming.TablePit]], IndexAlias and
  * IvfAlias. The reference's shape: one live index that a stream keeps
  * writing while readers page it through aliases and PIT handles
  * (custom_resource.py:324-384). A store keeps only its policy — how it
  * picks the next version, what marks a version complete, how it parses
  * the pointer's contents.
  *
  * Commit: the store writes the version's data first, then [[commit]]
  * writes the pointer's contents to `<pointer>.tmp<contents>` and
  * replaces the pointer with it in one overwrite-rename — `java.nio`
  * `ATOMIC_MOVE` on the local filesystem, the filesystem's own
  * `rename(…, OVERWRITE)` elsewhere (atomic on HDFS). A stop after any
  * step leaves readers on a complete version:
  *  - version data partly written: the pointer still names the previous
  *    version, and the partial directory fails the completeness test;
  *  - data complete, temp pointer written: as above; the replayed write
  *    rewrites the temp;
  *  - pointer replaced: the new version.
  * A temp pointer is written only after its version is complete, so it
  * names a complete version. Where the filesystem has no atomic
  * overwrite, the rename deletes the old pointer first; readers then
  * [[resolve]] to the newest complete version until the next commit. A
  * rename that does not take effect throws.
  *
  * Pins: one per-JVM refcount table (the single-driver serving shape; a
  * multi-driver deployment would persist leases beside the pointers).
  * A key addresses the pinned directory, not the spelling of its path:
  * `dir/`, `dir/./` and a symlink to `dir` pin and vacuum one key.
  */
object VersionPointer {

  /** The filesystem of `dir` under the active session's Hadoop
    * configuration (a default one when no session is running).
    */
  def fsOf(dir: String, conf: Configuration = sessionConf): FileSystem =
    new Path(dir).getFileSystem(conf)

  private def sessionConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())

  /** The local filesystem, where `java.nio` gives an atomic replace and
    * an exclusive create that Hadoop's local client does not.
    */
  def isLocal(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  // pointers bypass the checksummed local client: the nio replace moves
  // no `.crc` sibling, and a stale one would fail the next read
  private def raw(fs: FileSystem): FileSystem = fs match {
    case l: LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  private def nioPath(fs: FileSystem, p: Path) =
    Paths.get(fs.makeQualified(p).toUri)

  /** The numeric versions under `dir`: entries named `<prefix><digits>`,
    * ascending. Any other entry (an operator's `v=bak`, a stray temp
    * dir) is ignored rather than wedging every version lookup.
    */
  def versions(fs: FileSystem, dir: String, prefix: String): Seq[Long] =
    (try fs.listStatus(new Path(dir)).toSeq
     catch { case _: FileNotFoundException => Seq.empty })
      .map(_.getPath.getName).filter(_.startsWith(prefix))
      .map(_.drop(prefix.length)).filter(s => s.nonEmpty && s.forall(_.isDigit))
      .flatMap(_.toLongOption).sorted

  /** The pointer's trimmed contents; None when it is missing or blank. */
  def read(fs: FileSystem, dir: String, name: String): Option[String] =
    try {
      val in = raw(fs).open(new Path(dir, name))
      try Some(new String(in.readAllBytes(), UTF_8).trim).filter(_.nonEmpty)
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** The version the pointer names, else the newest on-disk version
    * (`<prefix><n>`) that the store's `complete` test accepts.
    */
  def resolve(fs: FileSystem, dir: String, name: String, prefix: String)(
      parse: String => Option[Long], complete: Long => Boolean): Option[Long] =
    read(fs, dir, name).flatMap(parse)
      .orElse(versions(fs, dir, prefix).reverseIterator.find(complete))

  /** The prefix of the pointer's temp files, `<name>.tmp<contents>`. */
  def tempPrefix(name: String): String = s"$name.tmp"

  /** Publish `contents` as the pointer `dir/name` — call only once the
    * version it names is complete.
    */
  def commit(fs: FileSystem, dir: String, name: String, contents: String): Unit = {
    val rfs = raw(fs)
    val ptr = new Path(dir, name)
    val tmp = new Path(dir, tempPrefix(name) + contents)
    val out = rfs.create(tmp, true)
    try out.write(contents.getBytes(UTF_8)) finally out.close()
    if (isLocal(fs))
      Files.move(nioPath(rfs, tmp), nioPath(rfs, ptr),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
    else FileUtil.rename(rfs, tmp, ptr, Options.Rename.OVERWRITE)
  }

  // ---- point-in-time pins ---------------------------------------------

  private val pins = new ConcurrentHashMap[String, Integer]()

  private def pinKey(fs: FileSystem, dir: String, piece: String): String = {
    val q = fs.makeQualified(new Path(dir))
    val norm =
      if (!isLocal(fs)) q.toString
      else {
        val p = Paths.get(q.toUri)
        (if (Files.exists(p)) p.toRealPath() else p.normalize()).toString
      }
    s"$norm@$piece"
  }

  def isPinned(fs: FileSystem, dir: String, piece: String): Boolean =
    pins.containsKey(pinKey(fs, dir, piece))

  /** Pin-then-verify. `resolve` returns the handle, the pieces (entries
    * of `dir`) to pin, and the paths under `dir` the handle reads.
    * Resolution happens before the pins land, so a vacuum racing that
    * window can delete what is being opened: a missing path releases
    * the attempt's pins and resolves again, up to 3 attempts.
    */
  def pin[P](fs: FileSystem, dir: String, what: String)(
      resolve: () => (P, Seq[String], Seq[String])): P = {
    @tailrec def attempt(n: Int): P = {
      val (handle, pieces, reads) = resolve()
      pieces.foreach(pc => pins.merge(pinKey(fs, dir, pc), 1, (a, b) => a + b): Unit)
      if (reads.forall(r => fs.exists(new Path(dir, r)))) handle
      else {
        release(fs, dir, pieces)
        if (n >= 3)
          throw new IllegalStateException(
            s"$what kept losing pieces to concurrent vacuums across $n open " +
              "attempts — quiesce the vacuum cadence")
        attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Drop one reference per piece; at zero a piece is vacuumable again.
    * A double release fails loud (it hides a refcount bug).
    */
  def release(fs: FileSystem, dir: String, pieces: Seq[String]): Unit =
    pieces.foreach { pc =>
      val k = pinKey(fs, dir, pc)
      // one atomic compute — a check-then-act pair would let two
      // concurrent releases of a refcount-1 pin both pass the check
      pins.compute(k, (_, n) =>
        if (n == null)
          throw new IllegalStateException(s"pit piece $k is not pinned (double release?)")
        else if (n <= 1) null
        else n - 1): Unit
    }
}
